"""Inputs: the rating waves are a pure function of the seed, and the
committed documents table is the declared fixture.

    python3 -m unittest discover -s perfbench/tests -t perfbench
"""
import filecmp
import json
import os
import re
import tempfile
import unittest
from pathlib import Path

import pyarrow.parquet as pq

import gen
import run

ROOT = Path(gen.__file__).resolve().parent.parent
# FIXTURES.md type names -> the Arrow types of the fixture parquet files
ARROW_TYPES = {"bigint": "int64", "string": "string"}


def fixture_schema(table):
    """[(column, arrow type)] of one table of FIXTURES.md."""
    for ln in (ROOT / "FIXTURES.md").read_text().splitlines():
        m = re.match(r"\| `(\w+)` \| (`\w+ [^`]+`.*)\|$", ln)
        if m and m.group(1) == table:
            return [(c, ARROW_TYPES[t]) for c, t in re.findall(r"`(\w+) ([^`]+)`", m.group(2))]
    raise KeyError(table)


SCHEDULE = [("cold", 50), ("small", 200), ("bulk", 800), ("small", 200)]


def same_files(a, b):
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return not mismatch and not errors


class Waves(unittest.TestCase):
    def test_same_seed_gives_byte_identical_waves(self):
        with tempfile.TemporaryDirectory() as t:
            gen.waves(Path(t, "a"), 7, SCHEDULE, accounts=50)
            gen.waves(Path(t, "b"), 7, SCHEDULE, accounts=50)
            gen.waves(Path(t, "c"), 8, SCHEDULE, accounts=50)
            self.assertTrue(same_files(Path(t, "a"), Path(t, "b")))
            self.assertFalse(filecmp.cmp(Path(t, "a", "wave_001.csv"),
                                         Path(t, "c", "wave_001.csv"), shallow=False))

    def test_manifest_and_stragglers(self):
        with tempfile.TemporaryDirectory() as t:
            gen.waves(t, 3, SCHEDULE, accounts=50)
            lines = Path(t, "manifest.txt").read_text().splitlines()
            self.assertEqual(lines[0], "accounts 50")
            self.assertEqual([ln.split()[1] for ln in lines[1:]],
                             [k for k, _ in SCHEDULE])
            legs = {}
            for w in range(len(SCHEDULE)):
                rows = Path(t, f"truth_{w:03d}.csv").read_text().splitlines()[1:]
                for r in rows:
                    a, e, s, total, _ = r.split(",")
                    legs.setdefault(e, []).append((w, int(s), int(total)))
            late = [e for e, ls in legs.items() if len({w for w, _, _ in ls}) > 1]
            self.assertTrue(late, "some calls must straggle into the next wave")
            for ls in legs.values():  # every call's legs are 1..total, once each
                self.assertEqual(sorted(s for _, s, _ in ls), list(range(1, ls[0][2] + 1)))


class Documents(unittest.TestCase):
    """curation_sink reads the declared sf0.1 `documents` fixture."""

    def test_schema_is_the_declared_one(self):
        schema = pq.read_schema(run.DATA / "documents.parquet")
        self.assertEqual([(f.name, str(f.type)) for f in schema], fixture_schema("documents"))

    def test_corpus_answer_is_the_sf01_one(self):
        self.assertEqual(pq.ParquetFile(run.DATA / "documents.parquet").metadata.num_rows, 5000)
        expected = json.loads((run.HERE / "expected.json").read_text())
        self.assertEqual(expected["curation_corpus"]["rows"], 2893)


if __name__ == "__main__":
    unittest.main()
