"""One run of the ingester benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (perfbench/build.py), then runs the workload
in a fresh JVM with local[nproc] Spark inside a run directory of its own
(warehouse, java.io.tmpdir, store, checkpoints and bucket all live under
$CARGO_TARGET_DIR/perfbench/runs/<run>/ and are deleted afterwards).

Workloads (all inputs come from --seed; the program sees only them):
  ingest_trickle  a closed loop with one caller: ten rounds of one message
                  each (the reference's SQS batch size), handed to
                  IngestStream.processBatch and writing through HttpStore
                  into an in-process DocStoreServer that starts empty. Five
                  rounds carry good packages (three inserts, two reparses of
                  documents inserted earlier), one the package whose image
                  name climbs out of the asset root, and four one bad message
                  each (cut-short JSON, missing package, unknown originator,
                  unreadable archive); the seed orders them after an insert.
                  The ten rounds are handed over whatever --seconds is.
  query_mix       SparkEntry.queries on the sf0.1 test data: one cold
                  execution per query, checked against query_pins.tsv, then
                  warm passes in a seeded order, at least one, more while
                  --seconds lasts. iter set: q145 (graph) q169 (sql); kernel
                  set: q21 (dedup) q198 (sim) q200 (text). Left out to fit one
                  run on four cores: q156 q171 q93 q151 q118 q130 (iter) and
                  q108 q199 q20 q210 q138 (kernel).

End-to-end metrics (--trace 0), one meaning per workload:
  setup_s           JVM start until the session is ready and the warm-up is
                    done, less fixture generation; one cold sample per run.
                    The warm-up is an insert round and a reparse round
                    through the wire store, or one small job (the cold pass
                    then reads the tables).
  throughput_per_s  trickle: messages settled per second of round wall;
                    query_mix: mix size over the sum of warm medians.
  latency_p50_s     trickle: median round, hand-over to return; query_mix:
                    median of the queries' warm medians.

The trickle's tail latency (the highest percentile with at least ten rounds
beyond it, or the slowest round when there are 20 or fewer; the report line
states the percentile and the count) is reported, not gated: with one warm
pass the query mix has no tail to match it, and its slowest execution
spread 24% across seeds.

--trace 1 measures untraced first, then again with a SparkListener and a
delegating store recording spans, then calls single layers directly
(PackageIngest.gather, TarOps.explode, Messages.decode, Resolution.resolve).
It prints the per-layer metrics declared in BENCHMARK.json and writes the
spans to $CARGO_TARGET_DIR/perfbench/traces/. The untraced numbers are
repeated there under their per-workload names (trickle_latency_*,
query_iter_s, query_kernel_s), with failed_share and the JVM's peak RSS.

query_pins.tsv holds each query's row count and order-insensitive content
hash, printed by `java -cp <classes>:<spark jars> perfbench.Main pin --sf-dir <dir>`.

`failed` counts operations (messages, query executions) whose outcome
differs from the seeded ledger; on the seed commit that is the traversal
package on ingest_trickle. `correct` is false when the store holds rows or
files that no operation explains.
"""
import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

HERE = Path(__file__).resolve().parent
WORKLOADS = ("ingest_trickle", "query_mix")
HEAP = "4g"
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def sf_dir():
    """The sf0.1 test data, as TESTDATA.md lists it (the pins are for it)."""
    doc = HERE.parent / "TESTDATA.md"
    m = re.search(r"^\|\s*0\.1\s*\|\s*`([^`]+)`", doc.read_text(), re.M) if doc.is_file() else None
    if not m:
        sys.exit("perfbench: TESTDATA.md lists no sf0.1 directory")
    return m.group(1).rstrip("/")


def declared():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def jvm(classes, args, run_dir, timeout):
    """Runs perfbench.Main in its own process group; returns its result dict."""
    run_dir.mkdir(parents=True, exist_ok=True)
    (run_dir / "tmp").mkdir(exist_ok=True)
    cp = os.pathsep.join([str(classes)] + build.spark_jars())
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        f"-Xmx{HEAP}",
        f"-Djava.io.tmpdir={run_dir / 'tmp'}",
        f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
        f"-Dperfbench.pins={HERE / 'query_pins.tsv'}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Main"] + args + ["--run-dir", str(run_dir)]
    log = open(run_dir / "jvm.log", "w")
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                         cwd=str(run_dir), start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(f"perfbench: JVM exceeded {timeout} s")
    finally:
        log.close()
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            if p.returncode == 0:
                return json.loads(line[len("PERFBENCH_RESULT "):])
    tail = (run_dir / "jvm.log").read_text(errors="replace")[-4000:]
    sys.stderr.write(out[-2000:] + tail)
    sys.exit(f"perfbench: JVM exited {p.returncode} without a result")


def workload_views(workload, r):
    """The untraced measurement under its per-workload names; 0 on the
    workload a name does not describe."""
    e = {k: v["value"] for k, v in r["end_to_end"].items()}
    return {
        "trickle_latency_p50_s": e["latency_p50_s"] if workload == "ingest_trickle" else 0.0,
        "trickle_latency_tail_s": r.get("latency_tail_s", 0.0),
        "query_iter_s": r.get("query_iter_s", 0.0),
        "query_kernel_s": r.get("query_kernel_s", 0.0),
        "failed_share": r["failed"] / max(1, r["attempted"]),
        "peak_rss_mb": r["peak_rss_mb"],
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    e2e_units, layer_units = declared()
    classes, stamp = build.build()
    sf = sf_dir()
    runs = build.build_dir() / "runs"
    traces = build.build_dir() / "traces"
    base = ["run", "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--sf-dir", sf, "--cpus", str(cpus())]
    tag = f"{a.workload}-{a.seed}-{os.getpid()}"
    spans = traces / f"spans-{a.workload}-{a.seed}.jsonl"
    args = base + ["--trace", str(a.trace)] + (["--spans", str(spans)] if a.trace else [])
    try:
        r = jvm(classes, args, runs / tag, JVM_TIMEOUT_S)
    finally:
        shutil.rmtree(runs / tag, ignore_errors=True)
    meta = {"git_commit": git_commit(), "source_sha256": stamp, "sf_dir": sf,
            **{k: r[k] for k in ("workload", "seed", "seconds", "cpus", "heap_max_mb", "spark", "jdk")}}
    if a.trace:
        spans.write_text(json.dumps(dict(meta, kind="perfbench.spans", spans=r["spans"])) + "\n"
                         + spans.read_text())
        metrics = dict(r["per_layer"])
        for k, v in workload_views(a.workload, r).items():
            metrics[k] = {"value": v, "unit": layer_units.get(k, "")}
        want = layer_units
    else:
        metrics = dict(r["end_to_end"])
        want = e2e_units
    if set(metrics) != set(want):
        sys.exit(f"perfbench: metrics {sorted(set(metrics) ^ set(want))} do not match BENCHMARK.json")
    metrics = {k: {"value": metrics[k]["value"], "unit": want[k]} for k in want}
    correct = not r["problems"]
    report = dict(r, kind="perfbench.report", **meta)
    print(json.dumps(report))
    print(json.dumps({"kind": "perfbench.summary", "workload": a.workload, "seed": a.seed,
                      "trace": a.trace, "correct": correct, "attempted": r["attempted"],
                      "failed": r["failed"], "problems": r["problems"],
                      "failed_ops": r["failed_ops"]}))
    print(json.dumps({"correct": correct, "attempted": r["attempted"], "failed": r["failed"],
                      "metrics": metrics}))


def git_commit():
    """HEAD of the checkout when it is a git work tree, else null."""
    try:
        r = subprocess.run(["git", "-C", str(HERE.parent), "rev-parse", "HEAD"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=10)
        return r.stdout.strip() or None if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


if __name__ == "__main__":
    main()
