#!/usr/bin/env python3
"""The repository's benchmark: one named workload, end to end or traced.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. It builds the program and the JVM
harness from source (cached by a hash of the sources), makes the
workload's inputs from the seed (cached by seed and shape), drives the
program from outside in fresh JVMs, checks every output, and prints one
JSON object as its last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. Load is a closed loop with one client: one command or
query at a time, on local[nproc]. The exit code is 0 only when every
output passed its check.

Workloads:
  pipeline_defaults  `index` then `quantify` with both calibrations on a
                     small transcriptome; Tare calibration and the fixed
                     per-iteration EM cost dominate
  pipeline_bulk      the same two commands on a transcriptome 50x larger
                     with 130x the reads, calibration off: FASTQ scan,
                     k-mer counting and index build dominate
  query_mix          23 registered queries over the committed corpus;
                     the seed permutes their order

See README.md for the metrics and what each layer metric should move.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
sys.path.insert(0, HERE)
import gen  # noqa: E402

K = "20"
# a run ends within this many seconds, or fails
DEADLINE_S = 170
# every run samples set-up at least this many times
SETUP_SAMPLES = 2
# the stated accuracy bound of the correctness gate: sum over transcripts
# of |abundance - generator truth|, out of a maximum of 2. The length
# calibration (Tare.calibrateTxLenBias, as in the reference) flattens the
# abundances to nearly uniform, which reads 0.6-1.0 on these inputs; an
# output that puts its mass on the wrong transcripts reads close to 2.
L1_BOUND = 1.5
CORPUS = os.path.join(HERE, "corpus")

PIPELINES = {
    # shape, quantify flags. Both keep CLI defaults except where the run
    # length forces a change: pipeline_defaults keeps both calibrations
    # but runs 5 EM iterations instead of 50 (each costs the same fixed
    # ~0.7 s, so the workload stays calibration- and EM-overhead bound);
    # pipeline_bulk uses the reference's end-to-end test settings with 5
    # iterations, so that EM stays a small share of its run.
    "pipeline_defaults": ("defaults", ["-max_iterations", "5"]),
    "pipeline_bulk": ("bulk", ["-disable_kmer_calibration", "-max_iterations", "5"]),
}

QUERIES = [
    "q03_shipping_priority", "q08_topk_per_group", "q18_range_join",
    "q131_window_zoo", "q212_asof_native",
    "q20_kmer_histogram", "q24_em_full", "q178_region_join",
    "q32_lang_id", "q34_token_bpe", "q35_rolling_fingerprint",
    "q42_simhash", "q133_ppjoin", "q163_hits",
    "q51_knn_ivf", "q118_pq", "q62_png_features", "q184_dq_audit",
    "q199_calibration", "q235_learning_curve",
    "q70_stream_hourly", "q72_stream_join", "q211_stream_tws",
]
# q24 quantifies the corpus documents as reads, each document one read of
# itself: its true abundance is uniform over the documents
QUANTIFY_QUERY = "q24_em_full"

WORKLOADS = list(PIPELINES) + ["query_mix"]

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "cpu_s": "s", "quantify_s": "s",
    "reads_per_s": "1/s",
}

_QUERY_LAYER = ["wall_s", "plan_s", "jobs", "tasks", "task_cpu_s",
                "shuffle_bytes", "spill_bytes"]
PER_LAYER = dict(
    [("io.genome_load_s", "s"), ("io.gtf_parse_s", "s"),
     ("io.fastq_records_read", "count"), ("io.fastq_bytes_read", "bytes"),
     ("io.read_amplification", "ratio"), ("io.index_bytes_written", "bytes"),
     ("io.index_bytes_read", "bytes"),
     ("index.build_s", "s"), ("index.kmer_rows", "count"),
     ("index.classes", "count"), ("index.edges", "count"),
     ("index.jobs", "count"), ("index.task_cpu_s", "s"),
     ("index.shuffle_write_bytes", "bytes"), ("index.spill_bytes", "bytes"),
     ("kmer.count_s", "s"), ("kmer.occurrences", "count"),
     ("kmer.distinct", "count"), ("kmer.task_cpu_s", "s"),
     ("kmer.shuffle_write_bytes", "bytes"), ("kmer.spill_bytes", "bytes"),
     ("calibrate.kmers_s", "s"), ("calibrate.kmers_jobs", "count"),
     ("calibrate.kmers_task_cpu_s", "s"), ("calibrate.len_s", "s"),
     ("quantify.apply_s", "s"), ("quantify.init_s", "s"),
     ("quantify.em_s", "s"), ("quantify.em_iter_ms", "ms"),
     ("quantify.jobs", "count"), ("quantify.jobs_per_iter", "count"),
     ("quantify.tasks", "count"), ("quantify.cpu_per_wall", "ratio"),
     ("quantify.classes", "count"), ("quantify.edges", "count"),
     ("quantify.write_s", "s"), ("quantify.abundance_l1", "fraction")]
    + [(f"{l}.{m}", "s" if m.endswith("_s") else
        "bytes" if m.endswith("bytes") else "count")
       for l in ("relational", "ops", "streaming") for m in _QUERY_LAYER]
    + [("query.p50_s", "s"), ("memo.build_s", "s"),
       ("spark.jobs", "count"), ("spark.tasks", "count"),
       ("spark.task_failures", "count"), ("jvm.gc_s", "s"),
       ("jvm.heap_peak_mb", "MB"),
       ("trace.wall_s", "s"), ("trace.span_coverage", "ratio")])


class RunError(Exception):
    """A run that cannot produce a result."""


def cpus():
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------- build

def _source_files():
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"),
                 os.path.join(HERE, "harness", "src")):
        files += sorted(glob.glob(os.path.join(base, "**", "*.*"), recursive=True))
    files += [os.path.join(HERE, "harness", "build.sbt"),
              os.path.join(HERE, "harness", "project", "build.properties")]
    return files


def build():
    """Classpath and JVM options of the built harness, building if the
    sources changed since the last build in this checkout."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise RunError(f"no program sources under {ROOT}: run from a checkout root")
    h = hashlib.sha256()
    for f in _source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(CACHE, "build", h.hexdigest()[:16] + ".launch")
    if not os.path.exists(stamp):
        os.makedirs(os.path.dirname(stamp), exist_ok=True)
        env = dict(os.environ, COURSIER_MODE="offline", SPARK_DRIVER_MEM="3g")
        repos = os.path.expanduser("~/.sbt/repositories")
        env.setdefault("SBT_OPTS", " ".join(
            (["-Dsbt.override.build.repos=true",
              f"-Dsbt.repository.config={repos}"] if os.path.exists(repos) else [])
            + ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]))
        log = os.path.join(CACHE, "build.log")
        with open(log, "w") as out:
            rc = subprocess.call(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFile"],
                cwd=os.path.join(HERE, "harness"), env=env, stdout=out,
                stderr=subprocess.STDOUT, timeout=850)
        if rc != 0:
            raise RunError(f"build failed (exit {rc}), see {log}")
        shutil.copy(os.path.join(HERE, "harness", "target", "launch.txt"), stamp)
    with open(stamp) as f:
        lines = f.read().splitlines()
    return lines[0], lines[1:]


# ------------------------------------------------------------------ JVM

class Jvm:
    """Starts harness JVMs in a work directory inside the checkout."""

    def __init__(self, launch, work, deadline):
        self.cp, self.opts = launch
        self.work = work
        self.deadline = deadline
        self.tmp = os.path.join(work, "tmp")
        os.makedirs(self.tmp, exist_ok=True)
        self.n = 0
        self.results = []

    def __call__(self, mode, trace, *args):
        self.n += 1
        out = os.path.join(self.work, f"jvm{self.n}.json")
        log = os.path.join(self.work, f"jvm{self.n}.log")
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()),
                   SPARK_LOCAL_DIRS=self.tmp)
        left = self.deadline - time.time()
        if left <= 0:
            raise RunError("run deadline passed")
        spawn = time.time_ns()
        with open(log, "w") as lf:
            proc = subprocess.Popen(
                ["java", *self.opts, f"-Djava.io.tmpdir={self.tmp}", "-cp", self.cp,
                 "perfbench.Harness", mode, str(spawn), out, str(trace), *args],
                cwd=self.work, env=env, stdout=lf, stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=left)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                raise RunError(f"{mode} {' '.join(args[:1])} passed the run deadline")
        if rc != 0 or not os.path.exists(out):
            return None
        with open(out) as f:
            r = json.load(f)
        self.results.append(r)
        return r

    def setups(self):
        return [r["setup_s"] for r in self.results]


# --------------------------------------------------------------- checks

def _parquet_rows(path):
    import pyarrow.parquet as pq
    return pq.read_table(path)


def check_index(inputs, idx):
    """Failures of one `index` output, and its table sizes."""
    fails, sizes = [], {}
    for t in ("kmers", "classes", "tx"):
        try:
            sizes[t] = _parquet_rows(f"{idx}_{t}").num_rows
        except Exception as e:  # missing or unreadable table
            fails.append(f"index _{t} unreadable: {e}")
            continue
        if sizes[t] == 0:
            fails.append(f"index _{t} is empty")
    if "tx" in sizes:
        tids = set(_parquet_rows(f"{idx}_tx").column("tid").to_pylist())
        missing = set(read_truth(inputs)) - tids
        if missing:
            fails.append(f"{len(missing)} transcripts missing from _tx, e.g. {min(missing)}")
    return fails, sizes


def read_truth(inputs):
    with open(os.path.join(inputs, "truth.tsv")) as f:
        return {t: float(a) for t, a in (line.split("\t") for line in f)}


def check_abundances(inputs, out):
    """Failures of one `quantify` output, and its L1 distance to truth."""
    truth = read_truth(inputs)
    seen = {}
    fails = []
    for part in sorted(glob.glob(os.path.join(out, "part-*"))):
        with open(part) as f:
            for line in f:
                tid, _, val = line.rstrip("\n").partition(", ")
                seen.setdefault(tid, []).append(val)
    if not seen:
        return ["quantify wrote no abundances"], math.nan
    dup = [t for t, v in seen.items() if len(v) != 1]
    extra = set(seen) - set(truth)
    missing = set(truth) - set(seen)
    for what, s in (("repeated", dup), ("unknown", extra), ("missing", missing)):
        if s:
            fails.append(f"{len(s)} transcripts {what}, e.g. {min(s)}")
    try:
        ab = {t: float(v[0]) for t, v in seen.items()}
    except ValueError as e:
        return fails + [f"unparsable abundance: {e}"], math.nan
    bad = [t for t, a in ab.items() if not math.isfinite(a) or a < 0]
    if bad:
        fails.append(f"{len(bad)} abundances negative or not finite, e.g. {min(bad)}")
    total = sum(ab.values())
    if not abs(total - 1) <= 1e-6:
        fails.append(f"abundances sum to {total!r}, not 1")
    l1 = sum(abs(ab.get(t, 0.0) - a) for t, a in truth.items())
    if not l1 < L1_BOUND:
        fails.append(f"abundance_l1 {l1!r} is not under {L1_BOUND}")
    return fails, l1


def check_queries(check_dir, names, timeout):
    """Per-query failures against the DuckDB oracle, as tools/check_oracle.py
    compares them, and the q24 abundance L1 distance to uniform."""
    oracle = {}
    fails = {}
    for n in names:
        sql = os.path.join(check_dir, n + ".sql")
        if os.path.exists(sql):
            with open(sql) as f:
                oracle[n] = f.read()
        else:
            fails[n] = "no output or no oracle SQL"
    with open(os.path.join(check_dir, "oracle_sql.json"), "w") as f:
        json.dump(oracle, f)
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
                        CORPUS, check_dir], capture_output=True, text=True, timeout=timeout)
    ok = {line.split()[1] for line in p.stdout.splitlines() if line.startswith("OK ")}
    for n in oracle:
        if n not in ok:
            fails[n] = next((line for line in p.stdout.splitlines()
                             if line.startswith(f"FAIL {n}:")), "oracle check did not pass")
    l1 = math.nan
    if QUANTIFY_QUERY in names and QUANTIFY_QUERY not in fails:
        ab = _parquet_rows(os.path.join(check_dir, QUANTIFY_QUERY)).column("abundance").to_pylist()
        l1 = sum(abs(a - 1 / len(ab)) for a in ab)
    return fails, l1


# ------------------------------------------------------------ workloads

def median(xs):
    return statistics.median(xs)


def pipeline_pass(jvm, inputs, flags, trace, tag, state):
    """index then quantify, each in a fresh JVM, then their checks."""
    idx = os.path.join(jvm.work, f"idx{tag}")
    out = os.path.join(jvm.work, f"abund{tag}")
    g = lambda f: os.path.join(inputs, f)  # noqa: E731
    ri = jvm("cli", trace, "index", g("genome.fa"), g("genes.gtf"), K, idx)
    fails, sizes = check_index(inputs, idx) if ri else (["index failed"], {})
    state["attempted"] += 1
    state["failed"] += bool(fails)
    state["errors"] += fails
    if ri is None:
        raise RunError("index failed; see " + jvm.work)
    rq = jvm("cli", trace, "quantify", g("reads.fastq"), idx, g("genes.gtf"), K, out, *flags)
    fails, l1 = check_abundances(inputs, out) if rq else (["quantify failed"], math.nan)
    state["attempted"] += 1
    state["failed"] += bool(fails)
    state["errors"] += fails
    if rq is None:
        raise RunError("quantify failed; see " + jvm.work)
    return ri, rq, sizes, l1


def run_pipeline(workload, seed, seconds, trace, jvm, state, shape=None):
    shape_name, flags = PIPELINES[workload]
    shape_name = shape or shape_name
    inputs = gen.cached(os.path.join(CACHE, "inputs"), seed, shape_name)
    n_reads = gen.SHAPES[shape_name][1]
    if not trace:
        passes = []
        while sum(p[0]["wall_s"] + p[1]["wall_s"] for p in passes) < seconds or not passes:
            passes.append(pipeline_pass(jvm, inputs, flags, 0, len(passes), state))
        return {
            "wall_s": median([i["wall_s"] + q["wall_s"] for i, q, _, _ in passes]),
            "cpu_s": median([i["cpu_s"] + q["cpu_s"] for i, q, _, _ in passes]),
            "quantify_s": median([q["wall_s"] for _, q, _, _ in passes]),
            "reads_per_s": median([n_reads / q["wall_s"] for _, q, _, _ in passes]),
        }
    ri, rq, sizes, l1 = pipeline_pass(jvm, inputs, flags, 1, 0, state)
    layers = {**ri["layers"], **rq["layers"]}
    for k in ("spark.jobs", "spark.tasks", "spark.task_failures", "jvm.gc_s"):
        layers[k] = ri["layers"][k] + rq["layers"][k]
    layers["jvm.heap_peak_mb"] = max(ri["layers"]["jvm.heap_peak_mb"],
                                     rq["layers"]["jvm.heap_peak_mb"])
    # Spark's input metrics undercount this source, so FASTQ reads are
    # counted as scan tasks: each reads one whole shard, and the shards
    # hold equal numbers of reads
    shards = glob.glob(os.path.join(inputs, "reads.fastq", "*"))
    layers["io.read_amplification"] = layers.pop("io.fastq_shard_scans") / len(shards)
    layers["io.fastq_records_read"] = layers["io.read_amplification"] * n_reads
    layers["io.fastq_bytes_read"] = layers["io.read_amplification"] * sum(
        os.path.getsize(f) for f in shards)
    layers["index.kmer_rows"] = sizes.get("kmers", 0)
    layers["index.classes"] = sizes.get("classes", 0)
    layers["index.edges"] = sizes.get("tx", 0)
    layers["quantify.abundance_l1"] = l1
    traced = ri["wall_s"] + rq["wall_s"]
    layers["trace.wall_s"] = traced
    layers["trace.span_coverage"] = (ri["span_s"] + rq["span_s"]) / traced
    return layers


def run_queries(seed, seconds, trace, jvm, state, names=QUERIES):
    import random
    # the seed permutes the order; q24 always runs last, so that the one
    # query quantify_s times sees the same JVM warm-up in every run
    order = [n for n in names if n != QUANTIFY_QUERY]
    random.Random(seed).shuffle(order)
    order += [QUANTIFY_QUERY] if QUANTIFY_QUERY in names else []
    check = os.path.join(jvm.work, "check")
    os.makedirs(check, exist_ok=True)
    r = jvm("queries", trace, CORPUS, check, str(seconds), ",".join(order))
    if r is None:
        raise RunError("query JVM failed; see " + jvm.work)
    fails, l1 = check_queries(check, order, max(1, jvm.deadline - time.time()))
    for n, e in r["errors"].items():
        fails.setdefault(n, e)
    passes = r["passes"]
    state["attempted"] += len(order) * len(passes)
    state["failed"] += len(fails)
    state["errors"] += [f"{n}: {e}" for n, e in sorted(fails.items())]
    if not trace:
        n_docs = _parquet_rows(os.path.join(CORPUS, "documents.parquet")).num_rows
        q = [p["ops"][QUANTIFY_QUERY] for p in passes]
        return {
            "wall_s": median([p["wall_s"] for p in passes]),
            "cpu_s": median([p["cpu_s"] for p in passes]),
            "quantify_s": median(q),
            "reads_per_s": median([n_docs / t for t in q]),
        }
    layers = dict(r["layers"], **{"quantify.abundance_l1": l1,
                                  "query.p50_s": median(list(passes[0]["ops"].values()))})
    t = passes[0]["wall_s"]
    layers["trace.wall_s"] = t
    layers["trace.span_coverage"] = r["span_s"] / t
    return layers


def run(workload, seed, seconds, trace, shape=None, names=QUERIES):
    """Run one workload; returns the result object run.py prints."""
    launch = build()
    work = os.path.join(CACHE, "work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    jvm = Jvm(launch, work, time.time() + DEADLINE_S)
    state = {"attempted": 0, "failed": 0, "errors": []}
    if workload == "query_mix":
        values = run_queries(seed, seconds, trace, jvm, state, names)
    else:
        values = run_pipeline(workload, seed, seconds, trace, jvm, state, shape)
    if not trace:
        while len(jvm.setups()) < SETUP_SAMPLES:
            if jvm("setup", 0) is None:
                raise RunError("setup probe failed; see " + work)
        values["setup_s"] = median(jvm.setups())
    # a layer the workload does not run reads 0; a value a failed check
    # left undefined reads 0 too, in a result marked not correct
    units = PER_LAYER if trace else END_TO_END
    metrics = {m: {"value": float(values[m] if not trace else values.get(m, 0)), "unit": u}
               for m, u in units.items()}
    for m in metrics.values():
        if not math.isfinite(m["value"]):
            m["value"] = 0.0
    os.makedirs(os.path.join(CACHE, "traces"), exist_ok=True)
    with open(os.path.join(CACHE, "traces", os.path.basename(work) + ".json"), "w") as f:
        json.dump({"workload": workload, "seed": seed, "trace": trace,
                   "errors": state["errors"], "jvm": jvm.results}, f)
    shutil.rmtree(work, ignore_errors=True)
    return {"correct": state["failed"] == 0, "attempted": state["attempted"],
            "failed": state["failed"], "metrics": metrics}, state["errors"]


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    try:
        result, errors = run(a.workload, a.seed, a.seconds, a.trace)
    except (RunError, subprocess.TimeoutExpired) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    for e in errors:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
