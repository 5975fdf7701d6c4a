package graft.operators

import java.util.Properties
import java.util.concurrent.{ConcurrentHashMap, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkSpec

/** The shared pool hands each task its caller's Spark context: a job
  * launched on a pool thread carries the local properties and job tags of
  * the thread that submitted it, whichever caller the pool thread served
  * before.
  */
class StagePoolSpec extends SparkSpec {

  private val CallerKey = "graft.test.caller"

  test("submit: pool jobs carry their own caller's local properties and job tags") {
    val sc = spark.sparkContext
    // job properties by job description (each submission's is unique)
    val seen = new ConcurrentHashMap[String, Properties]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).foreach(p =>
          Option(p.getProperty("spark.job.description")).foreach(seen.put(_, p)))
    }

    /** Submit one job from a fresh caller thread that set `value` as a
      * custom local property and `tag-<value>` as a job tag; returns the
      * pool thread that ran it and the job's properties.
      */
    def submitFrom(value: String, desc: String): (Thread, Properties) = {
      var ranOn: Thread = null
      val caller = new Thread(() => {
        sc.setJobDescription(desc)
        sc.setLocalProperty(CallerKey, value)
        sc.addJobTag(s"tag-$value")
        ranOn = StagePool.get(StagePool.submit(spark) {
          sc.parallelize(Seq(1), 1).count()
          Thread.currentThread()
        })
      })
      caller.start(); caller.join()
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
      while (!seen.containsKey(desc)) {
        assert(System.nanoTime() < deadline, s"job '$desc' never reached the listener")
        Thread.sleep(10)
      }
      (ranOn, seen.get(desc))
    }

    def tags(p: Properties): Set[String] =
      Option(p.getProperty("spark.job.tags")).toSet.flatMap((t: String) => t.split(",").toSet)

    sc.addSparkListener(listener)
    try {
      val (threadA, propsA) = submitFrom("a", "stagepool-a")
      assert(propsA.getProperty(CallerKey) == "a")
      assert(tags(propsA).contains("tag-a"), tags(propsA))

      // a second caller keeps submitting until a task lands on the thread
      // that served the first; each of its jobs carries only its own context
      var sameThread = false
      var i = 0
      while (!sameThread && i < 32) {
        val (thread, props) = submitFrom("b", s"stagepool-b-$i")
        assert(props.getProperty(CallerKey) == "b", s"attempt $i")
        assert(tags(props).contains("tag-b") && !tags(props).contains("tag-a"),
          s"attempt $i: ${tags(props)}")
        sameThread = thread eq threadA
        i += 1
      }
      assert(sameThread, "no task of the second caller ran on the first caller's pool thread")
    } finally sc.removeSparkListener(listener)
  }
}
