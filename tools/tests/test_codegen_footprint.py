"""Unit tests of tools/codegen_footprint.py on a small sample log.

    python3 -m unittest discover -s tools/tests
"""
import sys

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import codegen_footprint  # noqa: E402

SAMPLE = Path(__file__).resolve().parent / "data" / "codegen_sample.log"


def run(**window):
    with open(SAMPLE) as f:
        return codegen_footprint.footprint(f, **window)


class FootprintTest(unittest.TestCase):
    def test_whole_log(self):
        self.assertEqual(run(), {
            "compiles": 4,
            "compile_ms": 32.8,
            # stage 1 (twice), stage 4, the projection
            "distinct_bodies": 3,
            # stage 1 and stage 4 are the same source at another stage id
            "distinct_normalized": 2,
            "repeated": 1,
            "cache_keys": 3,
        })

    def test_window(self):
        got = run(after="08:00:02.000", before="08:00:04.000")
        self.assertEqual(got["compiles"], 2)
        self.assertEqual(got["compile_ms"], 10.2)
        self.assertEqual(got["distinct_bodies"], 2)
        self.assertEqual(got["repeated"], 0)

    def test_non_codegen_continuations_ignored(self):
        got = run(after="08:00:03.000", before="08:00:03.500")
        self.assertEqual(got, {"compiles": 0, "compile_ms": 0.0, "distinct_bodies": 0,
                               "distinct_normalized": 0, "repeated": 0, "cache_keys": 0})

    def test_cache_keys_split_driver_and_task_compiles(self):
        src = ["/* 001 */ public Object generate(Object[] references) {", "/* 002 */ }"]
        log = (["08:00:01.000 DEBUG [main] CodeGenerator: "] + src
               + ["08:00:02.000 DEBUG [Executor task launch worker for task 0.0] CodeGenerator: "]
               + src
               + ["08:00:03.000 DEBUG [Executor task launch worker for task 1.0] CodeGenerator: "]
               + src)
        got = codegen_footprint.footprint(log)
        self.assertEqual((got["compiles"], got["distinct_bodies"], got["cache_keys"]), (3, 1, 2))


if __name__ == "__main__":
    unittest.main()
