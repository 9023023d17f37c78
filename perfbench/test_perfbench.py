"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The Workloads tests build the program and run the workloads at toy size
(about five minutes on 4 cores).
"""
import filecmp
import json
import math
import os
import re
import shutil
import subprocess
import sys
import tempfile
import unittest
from unittest import mock

import gen
import run

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _tmp():
    os.makedirs(run.CACHE, exist_ok=True)
    return tempfile.mkdtemp(dir=run.CACHE, prefix="test-")


class Inputs(unittest.TestCase):

    def test_same_seed_gives_identical_inputs(self):
        d = _tmp()
        try:
            gen.generate(os.path.join(d, "a"), 7, "toy")
            gen.generate(os.path.join(d, "b"), 7, "toy")
            gen.generate(os.path.join(d, "c"), 8, "toy")
            files = ["genome.fa", "genes.gtf", "truth.tsv"] + [
                os.path.join("reads.fastq", f)
                for f in sorted(os.listdir(os.path.join(d, "a", "reads.fastq")))]
            self.assertEqual(len(files) - 3, gen.SHAPES["toy"][3])
            same, diff, _ = filecmp.cmpfiles(os.path.join(d, "a"), os.path.join(d, "b"),
                                             files, shallow=False)
            self.assertEqual((same, diff), (files, []))
            _, diff, _ = filecmp.cmpfiles(os.path.join(d, "a"), os.path.join(d, "c"),
                                          files, shallow=False)
            self.assertIn("genome.fa", diff)
        finally:
            shutil.rmtree(d)

    def test_exons_lie_inside_contigs_and_genes_have_isoforms(self):
        d = _tmp()
        try:
            gen.generate(d, 3, "defaults")
            lengths, name = {}, None
            with open(os.path.join(d, "genome.fa")) as f:
                for line in f:
                    if line.startswith(">"):
                        name = line[1:].strip()
                        lengths[name] = 0
                    else:
                        lengths[name] += len(line.strip())
            isoforms = {}
            with open(os.path.join(d, "genes.gtf")) as f:
                for line in f:
                    if line.startswith("#"):
                        continue
                    c = line.split("\t")
                    self.assertTrue(1 <= int(c[3]) <= int(c[4]) <= lengths[c[0]])
                    gene, tid = re.findall(r'"([^"]+)"', c[8])
                    isoforms.setdefault(gene, set()).add(tid)
            counts = {len(v) for v in isoforms.values()}
            self.assertTrue(counts <= {1, 2, 3, 4} and max(counts) > 1)
            self.assertAlmostEqual(sum(run.read_truth(d).values()), 1.0)
        finally:
            shutil.rmtree(d)


class Metrics(unittest.TestCase):

    def test_names_and_units_are_well_formed_and_match_benchmark_json(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        for table, key in ((run.END_TO_END, "end_to_end"), (run.PER_LAYER, "per_layer")):
            for name, unit in table.items():
                self.assertRegex(name, NAME)
                self.assertRegex(unit, UNIT)
            self.assertEqual({m["name"]: m["unit"] for m in bench[key]}, table)
        for w in bench["workloads"]:
            self.assertIn(w["name"], run.WORKLOADS)


class Checks(unittest.TestCase):
    """The correctness gate rejects wrong outputs."""

    def setUp(self):
        self.dir = _tmp()
        gen.generate(self.dir, 5, "toy")
        self.truth = run.read_truth(self.dir)
        self.out = os.path.join(self.dir, "abund")

    def tearDown(self):
        shutil.rmtree(self.dir)

    def write(self, rows):
        os.makedirs(self.out, exist_ok=True)
        with open(os.path.join(self.out, "part-00000.txt"), "w") as f:
            f.writelines(f"{t}, {a!r}\n" for t, a in rows)

    def test_truth_passes(self):
        self.write(self.truth.items())
        fails, l1 = run.check_abundances(self.dir, self.out)
        self.assertEqual(fails, [])
        self.assertAlmostEqual(l1, 0.0)

    def test_wrong_outputs_fail(self):
        items = list(self.truth.items())
        uniform = [(t, 1 / len(items)) for t, _ in items]
        for rows in (items[1:],                          # a transcript missing
                     items + items[:1],                  # one repeated
                     [(t, a * 2) for t, a in items],     # sum is not 1
                     [(items[0][0], -items[0][1])] + items[1:],
                     [(items[0][0], math.nan)] + items[1:]):
            self.write(rows)
            fails, _ = run.check_abundances(self.dir, self.out)
            self.assertTrue(fails, rows)
        self.write(uniform)
        self.assertEqual(run.check_abundances(self.dir, self.out)[0], [])


class Workloads(unittest.TestCase):
    """Every workload passes all its checks at toy size, and a wrong output
    makes the command exit non-zero."""

    def test_pipeline_at_toy_size(self):
        for trace in (0, 1):
            result, errors = run.run("pipeline_defaults", 11, 0, trace, shape="toy")
            self.assertTrue(result["correct"], errors)
            want = run.PER_LAYER if trace else run.END_TO_END
            self.assertEqual(set(result["metrics"]), set(want))
            if trace:
                layers = {k: v["value"] for k, v in result["metrics"].items()}
                self.assertGreaterEqual(layers["trace.span_coverage"], 0.9)
                self.assertGreater(layers["io.read_amplification"], 0)
            else:
                for m in result["metrics"].values():
                    self.assertGreater(m["value"], 0)

    def test_query_mix_at_toy_size(self):
        names = ["q03_shipping_priority", "q24_em_full", "q70_stream_hourly"]
        for trace in (0, 1):
            result, errors = run.run("query_mix", 11, 0, trace, names=names)
            self.assertTrue(result["correct"], errors)
            self.assertEqual(result["attempted"], len(names))
            if trace:
                layers = {k: v["value"] for k, v in result["metrics"].items()}
                for layer in ("relational", "streaming"):
                    self.assertGreater(layers[layer + ".jobs"], 0)
                    self.assertGreater(layers[layer + ".plan_s"], 0)

    def test_fails_without_the_program(self):
        d = _tmp()
        try:
            shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), d)
            shutil.copytree(run.HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns(".cache", "target", "__pycache__"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "query_mix",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout, "")
        finally:
            shutil.rmtree(d)

    def test_injected_wrong_output_exits_non_zero(self):
        real = run.check_abundances

        def corrupt(inputs, out):
            part = sorted(os.listdir(out))
            part = [p for p in part if p.startswith("part-")][0]
            with open(os.path.join(out, part), "a") as f:
                f.write("G0.0, 0.5\n")
            return real(inputs, out)

        shapes = dict(run.PIPELINES, pipeline_defaults=("toy", run.PIPELINES[
            "pipeline_defaults"][1]))
        with mock.patch.object(run, "check_abundances", corrupt), \
                mock.patch.object(run, "PIPELINES", shapes):
            rc = run.main(["--workload", "pipeline_defaults", "--seed", "12",
                           "--seconds", "0", "--trace", "0"])
        self.assertNotEqual(rc, 0)


if __name__ == "__main__":
    unittest.main()
