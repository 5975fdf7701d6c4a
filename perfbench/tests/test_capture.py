#!/usr/bin/env python3
"""The seeded F1 capture generator is deterministic and covers its spec.

    python3 perfbench/tests/test_capture.py      # from the root of a checkout

Builds the benchmark (see build.py), writes the capture for a seed twice
and checks the two files are byte-identical, that another seed differs,
that the capture holds every topic, both race-control shapes with
repeated message ids, deflated telemetry, malformed lines and stale
timestamps, and that its topic mix and telemetry rows per line match the
feed sample SURVEY.md documents.
"""
import base64
import hashlib
import json
import os
import re
import subprocess
import sys
import tempfile
import unittest
import zlib

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import build  # noqa: E402

TOPICS = ["SessionInfo", "DriverList", "TimingData", "TimingAppData", "CarData.z",
          "Position.z", "WeatherData", "RaceControlMessages"]


class CaptureTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.cp, _ = build.build()
        cls.tmp = tempfile.TemporaryDirectory(dir=build.OUT)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def capture(self, seed, seconds, name):
        path = os.path.join(self.tmp.name, name)
        subprocess.run(["java", "-XX:-UsePerfData", "-cp", self.cp, "perfbench.Capture",
                        str(seed), str(seconds), path], check=True)
        with open(path, "rb") as fh:
            return fh.read()

    def test_same_seed_same_bytes(self):
        a = self.capture(7, 300, "a.txt")
        b = self.capture(7, 300, "b.txt")
        self.assertEqual(hashlib.sha256(a).hexdigest(), hashlib.sha256(b).hexdigest())
        self.assertNotEqual(a, self.capture(8, 300, "c.txt"))

    def test_content(self):
        lines = self.capture(3, 600, "d.txt").decode().splitlines()
        events = [l for l in lines if l.startswith("['")]
        for t in TOPICS:
            self.assertTrue(any(l.startswith(f"['{t}'") for l in events), t)
        rc = [l for l in events if l.startswith("['RaceControlMessages'")]
        self.assertTrue(any("'Messages': [" in l for l in rc))
        ids = [m for l in rc for m in re.findall(r"'Messages': \{'(\d+)'", l)]
        self.assertGreater(len(ids), len(set(ids)))
        cars = {m for l in events if l.startswith("['TimingData'")
                for m in re.findall(r"'(\d+)': \{'[A-Z]", l)}
        self.assertEqual(len(cars), 20)
        malformed = len(lines) - len(events) + sum(1 for l in events if not l.endswith("']"))
        self.assertGreater(malformed, 0)
        stamps = [re.search(r"'(2025-[^']+)'\]$", l) for l in events]
        stamps = [s.group(1) for s in stamps if s]
        self.assertTrue(any(b < a for a, b in zip(stamps, stamps[1:])), "no out-of-order timestamp")

    def test_cadence(self):
        """Topic mix and telemetry fan-out of the documented feed sample."""
        events = [l for l in self.capture(5, 1800, "e.txt").decode().splitlines() if l.startswith("['")]
        share = lambda t: sum(l.startswith(f"['{t}'") for l in events) / len(events)
        self.assertAlmostEqual(share("CarData.z") + share("Position.z"), 140 / 178, delta=0.03)
        self.assertAlmostEqual(share("TimingData"), 19 / 178, delta=0.02)
        self.assertAlmostEqual(share("TimingAppData"), 9 / 178, delta=0.02)
        rows = 0
        for l in events:
            m = re.match(r"\['CarData.z', '([^']+)', '[^']+'\]$", l)
            if m:
                doc = json.loads(zlib.decompress(base64.b64decode(m.group(1)), -15))
                rows += sum(len(e["Cars"]) for e in doc["Entries"])
        self.assertAlmostEqual(rows / len(events), 15.2, delta=1.5)


if __name__ == "__main__":
    unittest.main()
