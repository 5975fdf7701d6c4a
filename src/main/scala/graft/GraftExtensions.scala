package graft

import org.apache.spark.sql.SparkSessionExtensions

import graft.functions.Registry
import graft.sql.TableFunctions

/** Session-extension installer: every session created with
  * `--conf spark.sql.extensions=graft.GraftExtensions` — the idiomatic
  * cluster-wide registration path — gets the whole function catalog, the
  * scalar/aggregate kernels of [[graft.functions.Registry.kernels]] and the
  * table functions of [[graft.sql.TableFunctions.functions]]. A session
  * built without it gets the same catalog from its first Column-wrapper
  * call ([[graft.functions.Registry.call]]); `TableFunctions.registerOnce`
  * installs the table functions alone.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    Registry.kernels.foreach(ext.injectFunction)
    TableFunctions.functions.foreach(ext.injectTableFunction)
  }
}
