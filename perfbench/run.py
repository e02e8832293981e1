"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py), computes the expected
answers with DuckDB (perfbench/check.py), runs the measured JVM
(perfbench/src/Bench.scala) directly with `java`, checks every output and
prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(see BENCHMARK.json for each metric's definition).  All files the run
makes live under perfbench/.work and are removed at the end.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

# JVM start, cold set-up and warm-up take 30-50 s on a 4-vCPU VM, more under
# CPU steal; the timed passes about --seconds, and the last may overrun it.
# The JVM gets this plus twice --seconds before it is stopped.
JVM_OVERHEAD_S = 130
JDK17_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
               "java.net", "java.nio", "java.util", "java.util.concurrent",
               "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
               "sun.security.action", "sun.util.calendar"]

# Op -> operators-layer group of the llm_curation mix.
OPERATOR_GROUPS = {
    "dedup": ["l1d_minhash_lsh", "l1e_simhash", "l40_exact_substring_spans",
              "l20_winnowing"],
    "similarity": ["l2_cosine_topk", "l2c_ann_ivf", "l39_semdedup"],
    "text": ["l3d_quality_score", "l3f_language_id", "l8_pii_scrub", "l27_bm25"],
}
KERNEL_EXPRS = ["graft_shingle_hashes", "graft_minhash", "graft_langid", "graft_cosine"]

END_TO_END = {"setup_s": "s", "rows_per_s": "rows/s", "op_p50_s": "s",
              "op_p90_s": "s", "write_mb_per_s": "MB/s",
              "stored_bytes_per_input_byte": "ratio", "ok_op_frac": "fraction",
              "peak_rss_mb": "MB"}
PER_LAYER = dict(
    [("engine.session_start_s", "s"), ("engine.table_register_s", "s"),
     ("engine.layout_build_s", "s"), ("engine.core_busy_frac", "fraction"),
     ("engine.tasks", "count"), ("plans.plan_s", "s"), ("queries.exec_s", "s"),
     ("queries.shuffle_write_mb", "MB"), ("queries.shuffle_read_mb", "MB"),
     ("queries.spill_mb", "MB"), ("queries.gc_s", "s"), ("sources.scan_mb", "MB"),
     ("sources.scan_rows", "rows"), ("sources.read_frac", "fraction"),
     ("sources.lookup_files_frac", "fraction"), ("sources.write_s", "s"),
     ("sources.write_mb", "MB"), ("sources.files_written", "count"),
     ("sources.avro_decode_s", "s"), ("sources.compact_files_in", "count"),
     ("sources.compact_files_out", "count"), ("streaming.batch_s", "s"),
     ("streaming.dup_drop_frac", "fraction"), ("operators.dedup_s", "s"),
     ("operators.similarity_s", "s"), ("operators.text_s", "s"),
     ("operators.lsh_recall", "fraction"), ("operators.ann_recall", "fraction")]
    + [(f"functions.kernel_rows_per_s.{e}", "rows/s") for e in KERNEL_EXPRS]
    + [("trace.rows_per_s", "rows/s")])


def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def quantile(xs, q):
    """Harrell-Davis estimate of the q-quantile (0 < q < 1): the mean of
    the order statistics weighted by a Beta(q(n+1), (1-q)(n+1)) density,
    so a run's estimate does not jump between neighbouring samples the
    way a single order statistic does.  The weights are integrated with
    the midpoint rule."""
    xs = np.sort(np.asarray(xs, dtype=float))
    n = len(xs)
    a, b = q * (n + 1), (1 - q) * (n + 1)
    steps = 256
    t = (np.arange(n * steps) + 0.5) / (n * steps)
    w = np.exp((a - 1) * np.log(t) + (b - 1) * np.log1p(-t)).reshape(n, steps).sum(axis=1)
    return float(w @ xs / w.sum())


def read_jsonl(path):
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


# ------------------------------------------------------------ the JVM run

def cpu_steal_frac(before, after):
    """Share of CPU time the hypervisor gave to other guests between two
    readings of the aggregate /proc/stat line."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def proc_stat():
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def run_jvm(cp, plan_path, log_path, run_dir, timeout_s):
    # code cache as the program's own run settings (build.sbt); the heap
    # is 1 GB, not build.sbt's 8 GB: under an 8 GB ceiling G1 lets garbage
    # pile up as it sees fit and VmHWM varied 2.9-5.1 GB between runs of
    # one workload, while under 1 GB it tracks the program's own footprint
    opts = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK17_OPENS] + [
        "-Xmx1g", "-XX:ReservedCodeCacheSize=1g",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        f"-Djava.io.tmpdir={run_dir}/tmp",
        f"-Dspark.local.dir={run_dir}/spark-local",
        f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-Dspark.sql.codegen.cache.maxEntries=10000"]
    os.makedirs(f"{run_dir}/tmp", exist_ok=True)
    launch_ms = time.time() * 1000.0
    with open(log_path, "w") as log:
        env = dict(os.environ, SPARK_LOCAL_DIRS=f"{run_dir}/spark-local")
        proc = subprocess.Popen(build.java_cmd(cp, "perfbench.Bench", plan_path, opts=opts),
                                stdout=log, stderr=subprocess.STDOUT, cwd=run_dir,
                                env=env, start_new_session=True)
        try:
            rc = proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if proc.poll() is None:  # timed out, or this process was stopped
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    return rc, launch_ms


# ---------------------------------------------------------------- metrics

class Run:
    """The events and spans of one JVM run, with the op inputs resolved
    against the manifest."""

    def __init__(self, out_dir, data_dir, manifest, launch_ms):
        self.events = read_jsonl(f"{out_dir}/events.jsonl")
        self.spans = read_jsonl(f"{out_dir}/spans.jsonl")
        self.manifest = manifest
        self.launch_ms = launch_ms
        self.execs = self.ev("op")
        self.inputs = {}
        for e in self.ev("inputs"):
            names, disk = set(), 0
            for f in e["inputs"]:
                path = f[5:] if f.startswith("file:") else f
                if os.path.exists(path) and os.path.isfile(path):
                    disk += os.path.getsize(path)
                names.add(self.logical(path, data_dir))
            rows = sum(manifest["inputs"][n]["rows"] for n in names if n)
            gen_bytes = sum(manifest["inputs"][n]["bytes"] for n in names if n)
            self.inputs[e["op"]] = {"rows": rows, "bytes": gen_bytes,
                                    "disk": disk or gen_bytes}

    def logical(self, path, data_dir):
        """Input name of a scanned file: its directory under the data dir,
        or the source table of a layout built from it."""
        inputs = self.manifest["inputs"]
        if path in inputs:
            return path
        rel = os.path.relpath(path, data_dir)
        if not rel.startswith(".."):
            top = rel.split(os.sep)[0]
            return top[:-len(".parquet")] if top.endswith(".parquet") else top
        for name in inputs:
            if f"bucketed_{name}" in path or f"{name}_bloom" in path:
                return name
        return None

    def ev(self, kind):
        return [e for e in self.events if e["event"] == kind]

    def one(self, kind):
        return self.ev(kind)[0]

    @staticmethod
    def per_op_median(execs, key):
        """op -> median of key(execution) over the op's executions."""
        by = {}
        for e in execs:
            by.setdefault(e["op"], []).append(key(e))
        return {op: statistics.median(v) for op, v in by.items()}

    def rows_per_s(self, execs):
        """Input rows of one pass of the mix over the pass's time, each op
        at its median latency."""
        secs = self.per_op_median(execs, lambda e: e["dur"])
        rows = sum(self.inputs.get(op, {}).get("rows", 0) for op in secs)
        return rows / sum(secs.values()) if secs else 0.0

    def setup_s(self):
        """JVM launch to first timed op, leaving out the writes of the
        check outputs."""
        total = (self.one("timed_start")["t"] - self.launch_ms) / 1000.0
        return total - self.one("warmup")["capture_s"]

    def end_to_end(self, ok_frac):
        ex = self.execs
        durs = [e["dur"] for e in ex]
        writes = [e for e in ex if "bytes" in e["res"]]
        landed = sum(self.per_op_median(writes, lambda e: e["res"]["bytes"]).values())
        write_s = sum(self.per_op_median(writes, lambda e: e["dur"]).values())
        write_in = sum(self.inputs.get(op, {}).get("bytes", 0)
                       for op in {e["op"] for e in writes})
        return {
            "setup_s": self.setup_s(),
            "rows_per_s": self.rows_per_s(ex),
            "op_p50_s": quantile(durs, 0.5),
            "op_p90_s": quantile(durs, 0.9),
            "write_mb_per_s": landed / 1e6 / write_s if writes else 0.0,
            "stored_bytes_per_input_byte": landed / write_in if write_in else 0.0,
            "ok_op_frac": ok_frac,
            "peak_rss_mb": self.one("timed_end")["peak_rss_mb"],
        }

    def per_layer(self, cores):
        sp = self.spans
        by = {}
        for s in sp:
            by.setdefault(s["name"], []).append(s)
        dur = lambda s: (s["t1"] - s["t0"]) / 1000.0  # noqa: E731
        ops = by.get("op", [])
        op_ids = {s["id"]: s for s in ops}
        # each Spark job belongs to the op whose job group it carries, or
        # else to the op running when it was submitted (one client, so
        # ops never overlap)
        job_op = {}
        for j in by.get("spark.job", []):
            owner = op_ids.get(j["parent"]) or next(
                (o for o in ops if o["t0"] <= j["t0"] <= o["t1"]), None)
            if owner:
                job_op.setdefault(owner["id"], []).append(j)
        jobs = [j for js in job_op.values() for j in js]
        n_ops = max(1, len(ops))
        jsum = lambda k, js=jobs: sum(j[k] for j in js)  # noqa: E731
        query_ops = {s["parent"] for s in by.get("queries.exec", [])}
        qjobs = [j for o in query_ops for j in job_op.get(o, [])]
        q_disk = sum(self.inputs.get(op_ids[o]["op"], {}).get("disk", 0)
                     for o in query_ops if o in op_ids)
        execs = self.execs
        gc_s = sum(p["gc_s"] for p in self.ev("pass"))
        writes = by.get("sources.write", [])
        lookup = by.get("sources.point_lookup", [{}])[0]
        compact = by.get("sources.compact", [{}])[-1]
        # micro-batches of timed dedup_ingest executions; the stream's
        # rows come from the manifest (numInputRows counts every read of
        # a foreachBatch batch, not the batch's rows)
        ingest_ops = [o for o in ops if o["op"] == "dedup_ingest"]
        batches = [b for b in by.get("streaming.batch", [])
                   if any(o["t0"] <= b["t0"] <= o["t1"] for o in ingest_ops)]
        ingest = [e for e in execs if e["op"] == "dedup_ingest" and not e["err"]]
        hist0 = self.manifest["inputs"].get("history", {}).get("rows", 0)
        novel = sum(e["res"]["sum"][0] - hist0 for e in ingest)
        batch_rows = len(ingest) * self.manifest["inputs"].get("stream", {}).get("rows", 0)
        kernels = {s["expr"]: s["rows_per_s"] for s in by.get("functions.kernel", [])}

        def group_s(g):
            return mean(e["dur"] for e in execs if e["op"] in OPERATOR_GROUPS[g])

        def med_span(name):
            xs = [dur(s) for s in by.get(name, [])]
            return statistics.median(xs) if xs else 0.0

        m = {
            "engine.session_start_s": med_span("engine.session_start"),
            "engine.table_register_s": med_span("engine.table_register"),
            "engine.layout_build_s": med_span("engine.layout_build"),
            "engine.core_busy_frac": jsum("run_ms") / 1000.0 / max(
                1e-9, sum(dur(o) for o in ops) * cores),
            "engine.tasks": jsum("tasks") / n_ops,
            "plans.plan_s": mean(dur(s) for s in by.get("plans.plan", [])),
            "queries.exec_s": mean(dur(s) for s in by.get("queries.exec", [])),
            "queries.shuffle_write_mb": jsum("shuffle_write") / 1e6 / n_ops,
            "queries.shuffle_read_mb": jsum("shuffle_read") / 1e6 / n_ops,
            "queries.spill_mb": jsum("spill") / 1e6 / n_ops,
            "queries.gc_s": gc_s / max(1, len(execs)),
            "sources.scan_mb": jsum("in_bytes") / 1e6 / n_ops,
            "sources.scan_rows": jsum("in_records") / n_ops,
            "sources.read_frac": jsum("in_bytes", qjobs) / q_disk if q_disk else 0.0,
            "sources.lookup_files_frac": (lookup["files_opened"] / lookup["files_total"]
                                          if lookup.get("files_total") else 0.0),
            "sources.write_s": mean(s["write_s"] for s in writes),
            "sources.write_mb": mean(s["bytes"] / 1e6 for s in writes),
            "sources.files_written": mean(s["files"] for s in writes),
            "sources.avro_decode_s": by.get("sources.avro_decode", [{"seconds": 0.0}])[0]["seconds"],
            "sources.compact_files_in": compact.get("files_in", 0),
            "sources.compact_files_out": compact.get("files_out", 0),
            "streaming.batch_s": mean(dur(b) for b in batches),
            "streaming.dup_drop_frac": 1.0 - novel / batch_rows if batch_rows else 0.0,
            "operators.dedup_s": group_s("dedup"),
            "operators.similarity_s": group_s("similarity"),
            "operators.text_s": group_s("text"),
            "operators.lsh_recall": by.get("operators.lsh_recall", [{"recall": 0.0}])[0]["recall"],
            "operators.ann_recall": by.get("operators.ann_recall", [{"recall": 0.0}])[0]["recall"],
            "trace.rows_per_s": self.rows_per_s(execs),
        }
        for e in KERNEL_EXPRS:
            m[f"functions.kernel_rows_per_s.{e}"] = kernels.get(e, 0.0)
        return m


# -------------------------------------------------------------------- main

def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.OPS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run directory")
    a = ap.parse_args(argv)
    # a SIGTERM unwinds like an exception, so the JVM is stopped and the
    # run directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))

    try:
        cp = build.ensure()
    except build.BuildError as e:
        sys.exit(f"perfbench: {e}")
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data, out, work = (os.path.join(run_dir, d) for d in ("data", "out", "work"))
    phases = {}
    t = time.time()
    try:
        manifest = gen.generate(a.workload, a.seed, data)
        phases["generate"] = time.time() - t
        oracle = check.load_json(build.ORACLE)
        expected = check.expected(a.workload, data, manifest, oracle)
        phases["expected"] = time.time() - t - phases["generate"]
        plan = {"workload": a.workload, "data": data, "work": work, "out": out,
                "trace": a.trace, "seconds": a.seconds, "cores": cores,
                "warehouse": f"{run_dir}/warehouse",
                "compact_target_bytes": check.COMPACT_TARGET_BYTES,
                "ops": ",".join(f"{n}:{k}" for n, k in gen.OPS[a.workload])}
        plan.update({k: v for k, v in manifest["params"].items() if not isinstance(v, list)})
        with open(os.path.join(run_dir, "expected.json"), "w") as fh:
            json.dump(expected, fh)
        plan_path = os.path.join(run_dir, "plan.properties")
        with open(plan_path, "w") as fh:
            fh.writelines(f"{k}={v}\n" for k, v in plan.items())
        log = os.path.join(run_dir, "jvm.log")
        stat0 = proc_stat()
        rc, launch_ms = run_jvm(cp, plan_path, log, run_dir,
                                JVM_OVERHEAD_S + 2 * a.seconds)
        phases["jvm"] = time.time() - launch_ms / 1000.0
        steal = cpu_steal_frac(stat0, proc_stat())
        if rc != 0:
            with open(log) as fh:
                tail = fh.read()[-3000:]
            sys.exit(f"perfbench: measured JVM exited with {rc}\n{tail}")

        r = Run(out, data, manifest, launch_ms)
        checks = {e["op"]: e.get("digest") for e in r.ev("check")}
        attempted, failed, reasons = check.score(expected, r.execs, checks, out)
        for op, why in sorted(reasons.items()):
            print(f"# FAILED {op}: {why}")
        if a.trace:
            metrics, units = r.per_layer(cores), PER_LAYER
        else:
            metrics, units = r.end_to_end(1.0 - failed / attempted), END_TO_END
        n = len(r.execs)
        phases["check"] = time.time() - launch_ms / 1000.0 - phases["jvm"]
        print(f"# {a.workload} seed={a.seed}: {n} timed op executions in "
              f"{len(r.ev('pass'))} passes; {attempted} checked, {failed} failed; "
              + ", ".join(f"{k} {v:.1f} s" for k, v in phases.items())
              + f"; cpu steal {steal:.1%}")
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()}}))
    finally:
        if not a.keep:
            shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
