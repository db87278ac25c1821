"""Benchmark of the CDC engine (``neo4j_to_clickhouse_spark``).

    python3 perfbench/run.py --workload {initial_load,cdc_stream} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. Inputs are generated from ``--seed``; the engine
sees only the generated NDJSON envelopes. Each workload measures for
``--seconds``, checks its outputs against the generator's ground truth (and,
in the traced run, a DuckDB oracle) outside the timed region, and prints a report followed by one
JSON line: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics of ``BENCHMARK.json``;
with ``--trace 1`` the run also repeats its work with spans on and the
metrics are the per-layer ones. Everything the run writes goes under
``.bench_work/`` in the working directory and is removed at the end.

See ``perfbench/README.md`` for why each workload and metric was chosen.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _spec() -> dict:
    """Workloads and metric names/units, as declared in ``BENCHMARK.json``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _engine_available() -> bool:
    """The engine package must come from this checkout, nowhere else."""
    sys.path.insert(0, ROOT)
    try:
        import neo4j_to_clickhouse_spark
    except ImportError:
        return False
    return os.path.abspath(neo4j_to_clickhouse_spark.__file__).startswith(ROOT + os.sep)


def main(argv: list[str] | None = None) -> int:
    spec = _spec()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not _engine_available():
        print(f"neo4j_to_clickhouse_spark not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(os.getcwd(), ".bench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep every temp file, Spark scratch dir and timestamp conversion local
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TZ"] = "UTC"
    # the JVMs' perf-counter files would otherwise go to the system /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    time.tzset()
    tempfile.tempdir = tmp

    import harness
    from layers import SOURCES, per_layer

    module = __import__(args.workload)
    env = harness.Env(work=work, seed=args.seed, seconds=args.seconds, trace=bool(args.trace))
    noise_before = harness.host_noise()
    try:
        out = module.run(env)
        conf = env.conf
        env.say(f"# nproc {harness.nproc()}; spark conf: " + json.dumps(
            {k: conf[k] for k in sorted(conf) if k.startswith(("spark.sql.", "spark.driver.memory", "spark.master"))}
        ))
        if args.trace:
            values = per_layer({**out, "session_starts": env.session_starts})
            declared = spec["per_layer"]
            for m in declared:
                env.say(f"layer {m['name']} = {values[m['name']]:.6g} {m['unit']}   "
                        f"[{SOURCES[m['name']]}]")
            for sp in out["tracer"].summary():
                env.say(f"span {sp['name']} duration={sp['duration_s']:.4f}s self={sp['self_s']:.4f}s "
                        f"parent={sp['parent']} job_group={sp['group']}")
            env.say(f"# tracing overhead: {out['overhead']:+.1%} "
                    f"({SOURCES['trace.overhead']}; traced vs untraced pass of this run)")
        else:
            declared = spec["end_to_end"]
            values = {"setup_s": out["setup_s"], **out["e2e"]}
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
    finally:
        from pyspark.sql import SparkSession

        active = SparkSession.getActiveSession()
        if active is not None:
            harness.shutdown(active)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass
    noise_after = harness.host_noise()

    attempted, failed = max(1, out["attempted"]), out["failed"]
    for name, (value, unit) in out["named"].items():
        env.say(f"metric {name} = {value:.6g} {unit}")
    env.say(f"metric setup_s = {out['setup_s']:.6g} s (median of set-ups "
            + ", ".join(f"{t:.3f}" for t in out["setup_all"]) + ")")
    env.say(f"metric peak_rss_mb = {out['e2e']['peak_rss_mb']:.6g} MB")
    env.say(f"metric failed_frac = {failed / attempted:.6g} ({failed} of {attempted})")
    env.say("# host noise: steal "
            f"{noise_after['steal_jiffies'] - noise_before['steal_jiffies']} jiffies, "
            f"loadavg {noise_before['loadavg_1m']} -> {noise_after['loadavg_1m']} "
            "(recorded; the run is kept whatever it reads)")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
