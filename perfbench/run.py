#!/usr/bin/env python3
"""graft benchmark: one workload, one run, one JSON result line.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
  python3 perfbench/run.py --selfcheck

Builds the library and the benchmark from source into `.bench_build`
(see build.py), runs the workload in one JVM on local[nproc], checks its
outputs (for `query_mix`, partly here: its oracled query results are
compared with DuckDB by the repository's `scripts/check_oracle.py`),
and prints:
  - a stamp line (commit or source id, nproc, Spark master, seed and the
    workload's parameters), so runs of different code or core counts are
    never compared by accident;
  - every metric the run measured, one per line, with its unit;
  - last, the result object: correct, attempted, failed and the metrics
    BENCHMARK.json lists (end-to-end with --trace 0, per-layer with
    --trace 1). A run with a failed operation still prints it, with
    correct false and whatever metrics it measured.

A traced run registers listeners and records spans; its end-to-end
figures are printed too, and `trace.overhead_s` is the difference
between its traced and untraced units of work.

--selfcheck runs every workload at a tiny size, traced and untraced,
and checks that the metric names printed are the ones BENCHMARK.json
lists and that every output check passes.
"""
import argparse
import contextlib
import io
import json
import os
import shutil
import subprocess
import sys
import tempfile

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("pipeline_batch", "stream_gold", "query_mix")

# Per-layer metrics of layers a workload never calls; they read 0 there.
UNUSED = {
    "pipeline_batch": ("streaming.", "gold.commits", "gold.live_files", "gold.write_amp",
                       "query.", "queries."),
    "stream_gold": ("generator.gen_s", "ingest.", "gold.fact_", "analytics.", "pipeline.",
                    "query.", "queries."),
    "query_mix": ("generator.", "ingest.", "gold.", "analytics.", "pipeline.", "streaming."),
}

JVM_TIMEOUT_S = 150


def commit_id(root):
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, text=True,
                             capture_output=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except OSError:
        pass
    return "source-" + build.source_id(root)


def check_oracle(root, rec):
    """Compare the oracled query results the JVM wrote with DuckDB on
    the same corpus (the repository's `scripts/check_oracle.py`); each
    mismatch is a failed operation."""
    corpus, results = rec["oracle"]["corpus"], rec["oracle"]["results"]
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, "oracle_sql.json"), "w") as f:
        json.dump(rec["oracle"]["sql"], f)
    sys.path.insert(0, os.path.join(root, "scripts"))
    import check_oracle as oracle
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        oracle.main(corpus, results)
    bad = [line for line in out.getvalue().splitlines() if line.startswith("FAIL")]
    rec["failed"] += len(bad)
    rec["failures"] += [f"DuckDB oracle: {line}" for line in bad]


def run_jvm(root, classpath, workload, seed, seconds, trace, tiny):
    """Run one workload in a fresh JVM; return its result record."""
    scratch = os.path.join(root, build.BUILD_DIR)
    work = tempfile.mkdtemp(prefix=f"run-{workload}-", dir=scratch)
    try:
        out = os.path.join(work, "result.json")
        cmd = (["java"] + build.java_options(root) +
               [f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/local",
                f"-Dspark.sql.warehouse.dir={work}/warehouse",
                "-cp", classpath, "graftbench.Main",
                "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                "--trace", str(trace), "--tiny", "1" if tiny else "0",
                "--work", work, "--out", out])
        os.makedirs(os.path.join(work, "tmp"))
        log_path = os.path.join(work, "jvm.log")
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
            try:
                rc = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                rc = "timeout"
        with open(log_path) as f:
            log_lines = f.readlines()
        sys.stderr.write("".join(l for l in log_lines if l.startswith("[perfbench]")))
        if rc != 0 or not os.path.exists(out):
            sys.stderr.write("".join(log_lines[-40:]))
            raise RuntimeError(f"{workload} JVM exited with {rc}")
        with open(out) as f:
            rec = json.load(f)
        if rec["oracle"]:
            check_oracle(root, rec)
        if trace:
            spans = os.path.join(work, "spans.jsonl")
            keep = os.path.join(scratch, f"spans-{workload}-{seed}.jsonl")
            shutil.copyfile(spans, keep)
            rec["spans_file"] = os.path.relpath(keep, root)
        return rec
    finally:
        shutil.rmtree(work, ignore_errors=True)


def layer_metrics(rec, spec):
    """The per-layer metrics, with 0 for the layers the workload never
    calls; a name the run should have produced but did not is missing."""
    unused = UNUSED[rec["workload"]]
    got = dict(rec["layers"])
    for m in spec["per_layer"]:
        if m["name"] not in got and m["name"].startswith(unused):
            got[m["name"]] = 0.0
    return got


def chosen(rec, spec, trace):
    """(metrics object for the last line, names BENCHMARK.json lists that
    the run did not produce, names the run produced that it does not)."""
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    have = layer_metrics(rec, spec) if trace else rec["e2e"]
    metrics = {m["name"]: {"value": have[m["name"]], "unit": m["unit"]}
               for m in wanted if have.get(m["name"]) is not None}
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    extra = sorted(set(have) - {m["name"] for m in wanted})
    return metrics, missing, extra


def report(rec, spec, root, trace):
    stamp = {"commit": commit_id(root), "nproc": rec["nproc"], "master": rec["master"],
             "spark": rec["spark_version"], "workload": rec["workload"], "seed": rec["seed"],
             "trace": trace, "params": rec["params"]}
    print(json.dumps({"stamp": stamp}))
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    label = "traced " if trace else ""
    for k, v in rec["e2e"].items():
        print(f"{label}{k} = {v} {units.get(k, '')}")
    for k, d in rec["detail"].items():
        print(f"{label}{k} = {d['value']} {d['unit']}")
    print(f"{label}error_rate = {rec['failed'] / max(1, rec['attempted'])} ratio")
    if trace:
        for k, v in layer_metrics(rec, spec).items():
            print(f"{k} = {v} {units.get(k, '')}")
    for f in rec["failures"]:
        print(f"FAILED: {f}")
    if rec.get("spans_file"):
        print(f"spans: {rec['spans_file']}")


def selfcheck(root, classpath, spec):
    ok = True
    for w in WORKLOADS:
        for trace in (0, 1):
            rec = run_jvm(root, classpath, w, 1, 1, trace, tiny=True)
            _, missing, extra = chosen(rec, spec, trace)
            good = not missing and (not trace or not extra) and rec["failed"] == 0
            ok &= good
            print(f"{'ok  ' if good else 'FAIL'} {w} trace={trace} attempted={rec['attempted']} "
                  f"failed={rec['failed']} missing={missing} unlisted={extra if trace else []}")
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true")
    args = ap.parse_args()
    if not args.selfcheck and not args.workload:
        ap.error("--workload is required")
    root = os.getcwd()
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            spec = json.load(f)
        classpath = build.build(root)
        if args.selfcheck:
            return selfcheck(root, classpath, spec)
        rec = run_jvm(root, classpath, args.workload, args.seed, args.seconds,
                      args.trace, tiny=False)
    except (OSError, RuntimeError, subprocess.SubprocessError) as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        return 2
    report(rec, spec, root, args.trace)
    metrics, missing, _ = chosen(rec, spec, args.trace)
    if missing and rec["failed"] == 0:
        print(f"[perfbench] run produced no value for {missing}", file=sys.stderr)
        return 1
    print(json.dumps({"correct": rec["failed"] == 0, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
