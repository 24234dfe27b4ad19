#!/usr/bin/env python3
"""The repository's benchmark: three closed-loop workloads on local[nproc].

Run from the repository root:

  python3 perfbench/run.py --workload query_mix --seed 1 --seconds 3 --trace 0
  python3 perfbench/run.py --pin    # re-pin perfbench/expected/ (memo-off path)

Workloads (BENCHMARK.json says why each exists; it runs query_mix and
corpus_stream, since corpus_batch's one cold execute per run does not fit the
benchmark's time budget beside them):
  query_mix      the 13-query mix of Harness.Mix over perfbench/data/sf0.01,
                 with the cross-query memo on; one operation is one query's
                 count(), one pass is the whole mix in seeded order, and at
                 least three passes run
  corpus_batch   CorpusJob.execute on a 10x replica of the documents; one
                 operation (and one pass) is one execute
  corpus_stream  the documents cut into two seeded ascending-doc_id shards; one
                 operation is one ingest -> publish -> vacuum epoch, one pass
                 is a reset stream taken through every shard

Each run builds the program and the harness from source when they changed
(into .bench_build/perfbench), launches the harness JVM, checks every
operation against perfbench/expected/, prints every metric by name with its
unit, and ends with one JSON line: {"correct", "attempted", "failed",
"metrics"}. --trace 0 reports the end-to-end metrics, --trace 1 the per-layer
metrics and writes the span tree to .bench_build/perfbench/traces/.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

import metrics as M

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build" / "perfbench"
DATA = HERE / "data" / "sf0.01"
EXPECTED = HERE / "expected"
WORKLOADS = ("query_mix", "corpus_batch", "corpus_stream")
JVM_TIMEOUT_S = 170

# build.sbt's JDK-17 module opens, which spark-submit would otherwise add
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

END_TO_END = {
    "setup_s": "s", "pass_s": "s", "op_p50_s": "s", "store_ratio": "ratio",
}
MODULES = ("RefQueries", "CoreQueries", "EventQueries", "TextQueries",
           "SimilarityQueries", "DedupQueries", "MiscQueries",
           "AnalyticsQueries", "JoinQueries", "MultimodalQueries",
           "SamplingQueries", "SketchQueries", "GraphQueries")
PER_LAYER = {
    "scheduler.jobs": "count", "scheduler.stages": "count",
    "scheduler.tasks": "count", "scheduler.floor_s": "s",
    "scheduler.floor_share": "ratio", "scheduler.driver_gap_s": "s",
    "scheduler.task_wait_s": "s",
    "plans.plan_s": "s",
    "queries.build_s": "s", "queries.exec_s": "s",
    "queries.memo_hits": "count", "queries.memo_misses": "count",
    "queries.memo_hit_ratio": "ratio",
    **{f"queries.{m}.s": "s" for m in MODULES},
    "executor.run_s": "s", "executor.cpu_s": "s", "executor.gc_s": "s",
    "executor.busy_frac": "ratio", "executor.spill_mb": "MB",
    "executor.peak_exec_mb": "MB", "executor.peak_storage_mb": "MB",
    "exchange.write_mb": "MB", "exchange.read_mb": "MB",
    "exchange.fetch_wait_s": "s", "exchange.task_skew": "ratio",
    "Tables.scan_mb": "MB", "Tables.scan_rows": "count", "Tables.load_s": "s",
    "pipeline.ingest_s": "s", "pipeline.publish_s": "s",
    "pipeline.vacuum_s": "s", "pipeline.state_mb": "MB",
    "pipeline.state_files": "count",
    "sinks.write_mb": "MB", "sinks.files": "count",
    "sinks.snapshot_versions": "count",
    "trace.pass_s": "s", "trace.spans": "count",
}
# per-layer metrics with no work behind them on a workload, and why; they
# report 0 there
NOT_APPLICABLE = {
    "query_mix": {
        "pipeline.ingest_s": "no CorpusStream epochs",
        "pipeline.publish_s": "no CorpusStream epochs",
        "pipeline.vacuum_s": "no CorpusStream epochs",
        "sinks.write_mb": "queries write no sink", "sinks.files": "queries write no sink",
        "sinks.snapshot_versions": "no SnapshotStore release",
    },
    "corpus_batch": {
        "plans.plan_s": "CorpusJob plans internally; planning shows in driver_gap_s",
        "queries.build_s": "no query functions", "queries.exec_s": "no query functions",
        "pipeline.ingest_s": "no CorpusStream epochs",
        "pipeline.publish_s": "no CorpusStream epochs",
        "pipeline.vacuum_s": "no CorpusStream epochs",
        "sinks.snapshot_versions": "no SnapshotStore release",
    },
    "corpus_stream": {
        "plans.plan_s": "CorpusStream plans internally; planning shows in driver_gap_s",
        "queries.build_s": "no query functions", "queries.exec_s": "no query functions",
    },
}


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else build.sbt's
    unmanagedBase."""
    if os.environ.get("SPARK_HOME"):
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = ROOT / "build.sbt"
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      sbt.read_text() if sbt.exists() else "")
        if not m:
            fail("no SPARK_HOME and no unmanagedBase in build.sbt")
        jars = Path(m.group(1))
    if not list(jars.glob("spark-core_*.jar")):
        fail(f"no Spark jars in {jars}")
    return jars


def sources():
    main = ROOT / "src" / "main" / "scala"
    files = sorted(main.rglob("*.scala")) if main.is_dir() else []
    if not files:
        fail("no program sources under src/main/scala; run from a checkout")
    return files + sorted((HERE / "src").rglob("*.scala"))


def build(jars):
    """Compile the program and the harness with the Scala compiler in
    Spark's jars directory; skipped when the sources are unchanged."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    classes, stamp_file = BUILD / "classes", BUILD / "stamp"
    if classes.is_dir() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return classes, stamp
    compiler = [str(p) for n in ("scala-compiler", "scala-library", "scala-reflect")
                for p in jars.glob(f"{n}-2.13*.jar")]
    if len(compiler) != 3:
        fail(f"no Scala 2.13 compiler in {jars}")
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    t0 = time.time()
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", os.pathsep.join(compiler),
         "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp),
         "-classpath", str(jars / "*")] + [str(f) for f in srcs],
        stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    print(f"perfbench: built {len(srcs)} sources in {time.time() - t0:.1f} s",
          file=sys.stderr)
    return classes, stamp


def heap():
    """Tier-1's SPARK_DRIVER_MEM rule: half the machine's memory in GiB,
    clamped to [2, 8]."""
    try:
        kb = int(re.search(r"^MemTotal:\s+(\d+)", Path("/proc/meminfo").read_text(),
                           re.M).group(1))
        g = kb // 2097152
    except (OSError, AttributeError):
        g = 2
    return f"{min(8, max(2, g))}g"


def nproc():
    return len(os.sched_getaffinity(0))


def commit():
    """HEAD of the checkout when it is its own git repository."""
    try:
        out = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "--show-toplevel", "HEAD"],
                             capture_output=True, text=True, timeout=10).stdout.split()
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return out[1] if len(out) == 2 and Path(out[0]) == ROOT else "unknown"


def run_harness(classes, jars, workload, seed, seconds, trace):
    """Launch the harness JVM; returns (record, launch time in epoch ms)."""
    work = BUILD / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    record_path = work / "record.json"
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-XX:-UsePerfData", f"-Xmx{heap()}", f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
            "-Dspark.sql.session.timeZone=UTC",
            "-XX:+UnlockDiagnosticVMOptions", "-XX:GCLockerRetryAllocationCount=64",
            "-cp", os.pathsep.join([str(classes), str(jars / "*")]),
            "graft.perfbench.Harness",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--nproc", str(nproc()),
            "--data", str(DATA), "--work", str(work), "--record", str(record_path)])
    launch_ms = time.time() * 1000.0
    proc = subprocess.Popen(cmd, cwd=str(work), stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"harness exceeded {JVM_TIMEOUT_S} s and was stopped", 3)
    try:
        if code != 0 or not record_path.exists():
            fail(f"harness exited with code {code}", 3)
        return json.loads(record_path.read_text()), launch_ms
    finally:
        shutil.rmtree(work, ignore_errors=True)


# ---- correctness -----------------------------------------------------------

def load_expected():
    return (json.loads((EXPECTED / "query_mix.json").read_text()),
            json.loads((EXPECTED / "corpus.json").read_text()))


def check_ops(record, expected):
    """(attempted, failed, reasons): an operation fails when it raised or
    its result differs from the pinned one."""
    qm, corpus = expected
    ops, facts = record["ops"], record["facts"]
    w = record["workload"]

    def check(op):
        if w == "query_mix":
            want = qm["queries"][op["name"]]
            got = facts.get(f"fp.{op['name']}")
            if got != want:
                return f"content fingerprint {got} != pinned {want}"
            if op["facts"].get("rows") != int(want.split(":")[0]):
                return f"count() {op['facts'].get('rows')} != pinned {want.split(':')[0]}"
        elif w == "corpus_batch":
            b = corpus["batch"]
            if op["facts"].get("funnel") != b["funnel"]:
                return f"funnel {op['facts'].get('funnel')} != pinned {b['funnel']}"
            if op["facts"].get("output") != b["output"]:
                return f"output {op['facts'].get('output')} != pinned {b['output']}"
        else:
            epoch = int(op["name"].removeprefix("epoch"))
            if op["facts"].get("version") != epoch:
                return f"snapshot version {op['facts'].get('version')} after epoch {epoch}"
            last = epoch == max(int(o["name"].removeprefix("epoch")) for o in ops)
            if last and op["facts"].get("release") != corpus["stream"]["release"]:
                return (f"release {op['facts'].get('release')} != batch "
                        f"{corpus['stream']['release']}")
        return None

    return M.op_failures(ops, check)


# ---- metrics ---------------------------------------------------------------

def dur(x):
    return (x["t1"] - x["t0"]) / 1000.0


def passes(record):
    """Wall time of each pass: the sum of its operations' latencies."""
    by = {}
    for op in record["ops"]:
        by.setdefault(op["pass"], []).append(dur(op))
    return [sum(v) for _, v in sorted(by.items())]


def pass_s(record):
    """The median cost of one pass: each operation's median latency over
    the passes, summed over the operations of a pass."""
    by = {}
    for op in record["ops"]:
        by.setdefault(op["name"], []).append(dur(op))
    return sum(M.median(v) for v in by.values())


def end_to_end(record, launch_ms):
    ops = record["ops"]
    return {
        "setup_s": (ops[0]["t0"] - launch_ms) / 1000.0,
        "pass_s": pass_s(record),
        "op_p50_s": M.median([dur(o) for o in ops]),
        "store_ratio": (record["state_bytes"] + record["sink_bytes"]) / record["input_bytes"],
    }


def attribute(record):
    """Jobs of timed operations, as {job id: op index}: by the job group
    the harness set, else by the operation whose interval holds the job's
    start (jobs submitted from helper threads carry no group)."""
    ops = record["ops"]
    out = {}
    for j in record["spark"]["jobs"]:
        g = j["group"] or ""
        if g.startswith("pb-op-"):
            out[j["id"]] = int(g[len("pb-op-"):])
        elif not g:
            for i, op in enumerate(ops):
                if op["t0"] <= j["start"] <= op["t1"]:
                    out[j["id"]] = i
    return out


def span_tree(record):
    """Spans run > operation > phase > Spark job > stage, as a flat list of
    {id, parent, kind, name, t0, t1}; each job hangs under the phase that
    holds its start (else its operation)."""
    spans = [{"id": 0, "parent": None, "kind": "run", "name": record["workload"],
              "t0": record["timed_t0"], "t1": record["timed_t1"]}]

    def add(parent, kind, name, t0, t1):
        spans.append({"id": len(spans), "parent": parent, "kind": kind,
                      "name": name, "t0": t0, "t1": t1})
        return len(spans) - 1

    op_span, phase_spans = {}, {}
    for i, op in enumerate(record["ops"]):
        op_span[i] = add(0, "operation", op["name"], op["t0"], op["t1"])
        phase_spans[i] = [(add(op_span[i], "phase", p["name"], p["t0"], p["t1"]), p)
                          for p in op["phases"]]
    stages = {}
    for s in record["spark"]["stages"]:
        stages.setdefault(s["id"], []).append(s)
    seen = set()
    owner = attribute(record)
    for j in record["spark"]["jobs"]:
        if j["id"] not in owner or j["end"] < 0:
            continue
        i = owner[j["id"]]
        parent = next((sid for sid, p in phase_spans[i] if p["t0"] <= j["start"] <= p["t1"]),
                      op_span[i])
        jid = add(parent, "job", f"job {j['id']}", j["start"], j["end"])
        for sid in j["stages"]:
            for s in stages.get(sid, []):
                if sid not in seen and s["submit"] >= 0 and s["done"] >= 0:
                    add(jid, "stage", f"stage {sid}.{s['attempt']}", s["submit"], s["done"])
            seen.add(sid)
    return spans


def self_times(spans):
    """Total self time (s) per span kind."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    out = {}
    for s in spans:
        t = M.self_time((s["t0"], s["t1"]), kids.get(s["id"], [])) / 1000.0
        out[s["kind"]] = out.get(s["kind"], 0.0) + t
    return out


def per_layer(record, spans):
    ops = record["ops"]
    n_pass = len(passes(record))
    one_pass = pass_s(record)
    owner = attribute(record)
    jobs = [j for j in record["spark"]["jobs"] if j["id"] in owner]
    stage_ids = {sid for j in jobs for sid in j["stages"]}
    stages = [s for s in record["spark"]["stages"]
              if s["id"] in stage_ids and s["tasks"] > 0]

    def total(key):
        return sum(s[key] for s in stages) / n_pass

    gap = 0.0
    for i, op in enumerate(ops):
        mine = [(max(op["t0"], j["start"]), min(op["t1"], j["end"]))
                for j in jobs if owner[j["id"]] == i and j["end"] >= 0]
        gap += (op["t1"] - op["t0"] - M.union_length([m for m in mine if m[1] > m[0]])) / 1000.0

    def phase_total(name):
        return sum(dur(p) for o in ops for p in o["phases"] if p["name"] == name) / n_pass

    def phase_median(name):
        xs = [dur(p) for o in ops for p in o["phases"] if p["name"] == name]
        return M.median(xs) if xs else 0.0

    h0, m0 = M.parse_memo(record["memo_before"])
    h1, m1 = M.parse_memo(record["memo_after"])
    hits, misses = (h1 - h0) / n_pass, (m1 - m0) / n_pass
    shuffle = max(stages, key=lambda s: (s["shuffle_read"], s["shuffle_write"]), default=None)
    skew = 0.0
    if shuffle and shuffle["task_dur_ms"]:
        skew = max(shuffle["task_dur_ms"]) / max(1.0, M.median(shuffle["task_dur_ms"]))
    floor = record["floor_s"]
    executor_run = total("run_ms") / 1000.0
    out = {
        "scheduler.jobs": len(jobs) / n_pass,
        "scheduler.stages": len(stages) / n_pass,
        "scheduler.tasks": total("tasks"),
        "scheduler.floor_s": floor,
        "scheduler.floor_share": len(jobs) / n_pass * floor / one_pass,
        "scheduler.driver_gap_s": gap / n_pass,
        "scheduler.task_wait_s": sum(s["dur_ms"] - s["run_ms"] - s["deser_ms"] - s["result_ser_ms"]
                                     for s in stages) / 1000.0 / n_pass,
        "plans.plan_s": phase_total("plan"),
        "queries.build_s": phase_total("build"),
        "queries.exec_s": phase_total("exec"),
        "queries.memo_hits": hits,
        "queries.memo_misses": misses,
        "queries.memo_hit_ratio": hits / (hits + misses) if hits + misses else 0.0,
        **{f"queries.{m}.s": sum(dur(o) for o in ops if o["module"] == m) / n_pass
           for m in MODULES},
        "executor.run_s": executor_run,
        "executor.cpu_s": total("cpu_ns") / 1e9,
        "executor.gc_s": total("gc_ms") / 1000.0,
        "executor.busy_frac": executor_run / (one_pass * record["nproc"]),
        "executor.spill_mb": total("spill_disk") / M.MB,
        "executor.peak_exec_mb": max((s["peak_exec"] for s in stages), default=0) / M.MB,
        "executor.peak_storage_mb": record["peak_storage_bytes"] / M.MB,
        "exchange.write_mb": total("shuffle_write") / M.MB,
        "exchange.read_mb": total("shuffle_read") / M.MB,
        "exchange.fetch_wait_s": total("fetch_wait_ms") / 1000.0,
        "exchange.task_skew": skew,
        "Tables.scan_mb": total("input_bytes") / M.MB,
        "Tables.scan_rows": total("input_rows"),
        "Tables.load_s": sum(dur(p) for p in record["setup"] if p["name"] == "tables"),
        "pipeline.ingest_s": phase_median("ingest"),
        "pipeline.publish_s": phase_median("publish"),
        "pipeline.vacuum_s": phase_median("vacuum"),
        "pipeline.state_mb": record["state_bytes"] / M.MB,
        "pipeline.state_files": record["state_files"],
        "sinks.write_mb": record["sink_bytes"] / M.MB,
        "sinks.files": record["sink_files"],
        "sinks.snapshot_versions": record["snapshot_versions"],
        "trace.pass_s": one_pass,
        "trace.spans": len(spans),
    }
    assert set(out) == set(PER_LAYER), set(out) ^ set(PER_LAYER)
    return out


def show(name, value, unit, note=""):
    print(f"  {name:<34} {value:>14.6g} {unit:<6} {note}".rstrip())


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=3)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true",
                    help="re-pin perfbench/expected/ from the memo-off path")
    a = ap.parse_args()
    if not a.pin and not a.workload:
        ap.error("--workload is required")
    jars = spark_jars()
    classes, stamp = build(jars)

    if a.pin:
        record, _ = run_harness(classes, jars, "pin", 0, 0, False)
        f = record["facts"]
        EXPECTED.mkdir(exist_ok=True)
        qm_path = EXPECTED / "query_mix.json"
        qm = json.loads(qm_path.read_text()) if qm_path.exists() else {}
        qm["queries"] = {k[3:]: v for k, v in sorted(f.items()) if k.startswith("fp.")}
        qm_path.write_text(json.dumps(qm, indent=2, sort_keys=True) + "\n")
        corpus = {"batch": {"funnel": f["batch_funnel"], "output": f["batch_output"]},
                  "stream": {"release": f["stream_release"]}}
        (EXPECTED / "corpus.json").write_text(json.dumps(corpus, indent=2, sort_keys=True) + "\n")
        print(json.dumps({"pinned": sorted(qm["queries"]), **corpus}))
        return

    record, launch_ms = run_harness(classes, jars, a.workload, a.seed, a.seconds, a.trace)
    attempted, failed, reasons = check_ops(record, load_expected())
    durations = [dur(o) for o in record["ops"]]
    print(f"perfbench workload={a.workload} seed={a.seed} trace={a.trace} "
          f"nproc={record['nproc']} heap_mb={record['max_heap_mb']} "
          f"spark={record['spark_version']} commit={commit()} source={stamp[:12]}")
    setup = sorted(((dur(p), p["name"]) for p in record["setup"]), reverse=True)
    print("  passes: " + ", ".join(f"{p:.3f} s" for p in passes(record)))
    print(f"  set-up steps: {sum(d for d, _ in setup):.2f} s; " +
          ", ".join(f"{n} {d:.2f} s" for d, n in setup))
    for r in reasons[:20]:
        print(f"  FAILED {r}")
    show("failed_frac", M.failed_frac(attempted, failed), "ratio",
         f"({failed} of {attempted} operations)")
    tail = M.tail_percentile(durations)
    if tail:
        show(f"op_p{tail[0]:g}_s", tail[1], "s", f"(n={len(durations)})")
    else:
        print(f"  op tail: n/a, {len(durations)} operations leave no percentile "
              "above the median with 10 samples beyond it")

    if a.trace:
        spans = span_tree(record)
        values, units = per_layer(record, spans), PER_LAYER
        trace_dir = BUILD / "traces"
        trace_dir.mkdir(parents=True, exist_ok=True)
        trace_file = trace_dir / f"{a.workload}-seed{a.seed}.json"
        trace_file.write_text(json.dumps({"spans": spans}) + "\n")
        print(f"  span tree: {len(spans)} spans in {trace_file.relative_to(ROOT)}; "
              "self time by kind: " +
              ", ".join(f"{k} {v:.3f} s" for k, v in self_times(spans).items()))
        if not record["listener_complete"]:
            print("  WARNING: listener events still pending after 10 s")
    else:
        values, units = end_to_end(record, launch_ms), END_TO_END
    na = NOT_APPLICABLE.get(a.workload, {}) if a.trace else {}
    for k in units:
        show(k, values[k], units[k], f"(n/a: {na[k]})" if k in na else "")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))


if __name__ == "__main__":
    main()
