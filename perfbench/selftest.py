"""The benchmark's own tests.

    python3 perfbench/selftest.py          # about five minutes on 4 cores

1. The generator is deterministic per seed and differs across seeds; every
   inserted document has its own cite, and the trickle carries the traversal
   package and all four bad-message kinds.
2. A traced and an untraced ingest_trickle run agree with their ledger: no
   unexplained rows or files, and the only operation allowed to fail is the
   traversal package (the program writes its image outside the asset root).
3. Every metric name a run prints is declared in BENCHMARK.json, with the
   declared unit, for --trace 0 and --trace 1.
"""
import json
import os
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import run  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent


def fixtures(classes, seed):
    cp = os.pathsep.join([str(classes)] + build.spark_jars())
    out = subprocess.run(["java", "-cp", cp, "perfbench.Main", "fixtures", "--seed", str(seed)],
                         check=True, stdout=subprocess.PIPE, text=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def bench(workload, trace):
    out = subprocess.run([sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
                          "--seed", "11", "--seconds", "1", "--trace", str(trace)],
                         check=True, stdout=subprocess.PIPE, text=True, cwd=ROOT).stdout
    lines = [json.loads(x) for x in out.strip().splitlines()]
    report = next(x for x in lines if x.get("kind") == "perfbench.report")
    return report, lines[-1]


def main():
    classes, _ = build.build()
    failures = []

    def expect(ok, what):
        print(("ok   " if ok else "FAIL ") + what)
        if not ok:
            failures.append(what)

    a, b, c = fixtures(classes, 7), fixtures(classes, 7), fixtures(classes, 8)
    expect(a == b, "same seed, same fixtures")
    expect(a["trickle_md5"] != c["trickle_md5"], "another seed, other fixtures")
    expect(a["unique_insert_cites"], "every insert has its own cite")
    outcomes = a["trickle_outcomes"]
    expect(outcomes.get("hostile") == 1, f"one traversal package ({outcomes})")
    expect(outcomes.get("failed_terminal_true", 0) >= 1 and outcomes.get("failed_terminal_false", 0) >= 3,
           "bad messages of every kind")
    expect(outcomes.get("updated", 0) > 0 and outcomes.get("inserted", 0) > 0, "inserts and updates")

    e2e, layer = run.declared()
    for trace, want in ((1, layer), (0, e2e)):
        report, result = bench("ingest_trickle", trace)
        expect(set(result) == {"correct", "attempted", "failed", "metrics"}, "result line keys")
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        expect(got == want, f"trace {trace}: printed metrics are the declared ones")
        expect(set(report["end_to_end"]) == set(e2e), f"trace {trace}: report end_to_end names declared")
        expect(result["correct"] and not report["problems"],
               f"trace {trace}: store matches the ledger ({report['problems']})")
        others = [f for f in report["failed_ops"] if not f.endswith("expected Hostile")]
        expect(not others and result["failed"] <= 2,
               f"trace {trace}: only the traversal package may fail ({report['failed_ops']})")
    report, result = bench("query_mix", 0)
    expect(result["correct"] and result["failed"] == 0, "query_mix: results match their pins")
    expect({k: v["unit"] for k, v in result["metrics"].items()} == e2e,
           "query_mix: printed metrics are the declared ones")

    print(f"{len(failures)} failed")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
