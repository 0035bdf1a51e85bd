#!/usr/bin/env python3
"""graft's benchmark.

    python3 perfbench/run.py --workload warehouse_daily --seed 1 \\
        --seconds 30 --trace 0

Workloads (one process, one client, local[nproc] Spark):

- warehouse_daily: bronze -> silver -> gold over ~3 years of lineitem,
  then one `Pipeline.goldIncrement` per ship month, each followed by
  gold reads (a consistent-triple join, point lookups through
  `ManifestStore.readWhere`, one time-travel `readAt`).
- corpus_daily: `Pipeline.corpusInit` on 60% of a seeded document
  sample, then daily `Pipeline.corpusIncrement` batches of held-out
  docs mixed with planted exact re-sends and near-duplicate edits,
  each followed by scans of `gold/train_packed`.
- query_mix: rounds of 13 read-only `SparkEntry.queries` in seeded
  order, each through the `noop` sink after a `clearCache`; results of
  the untimed warm-up round are checked against DuckDB running
  `SparkEntry.oracleSql`.

`--seconds` sizes the fixed amount of work (days, rounds) a run does;
it never depends on measured speed, so two commits do identical work.
With `--trace 0` the last stdout line carries the end-to-end metrics;
with `--trace 1` the per-layer metrics, and the spans are written to
`.bench_build/perfbench/traces/<workload>-seed<n>.jsonl`. Inputs come
from the sf0.1 tables (`--sf-dir`, default ~/testdata/sf0.1). A
run's scratch files live in a temp dir under `.bench_build`, removed
on exit. The run exits nonzero when an output check fails.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import inputs  # noqa: E402

# --seconds sizes the fixed work of a run: one day per DAY_SECONDS (at
# least two) or one query round per ROUND_SECONDS (at least one).
DAY_SECONDS = 20
ROUND_SECONDS = 40
SETUPS = 3
# query_mix runs every query cold once, then R timed rounds: minutes,
# not the daily workloads' seconds.
TIMEOUT_S = {"query_mix": 1200}
# A daily run must end within RUN_LIMIT_S. Before it starts, the run
# waits up to QUIET_WAIT_S for the steal share to drop to QUIET_STEAL.
RUN_LIMIT_S = 165
QUIET_STEAL, QUIET_WAIT_S, RETRY_STEAL = 0.01, 10, 0.10

DAILY = [("setup_s", "s"), ("bootstrap_s", "s"), ("increment_p50_s", "s"),
         ("read_p50_s", "s"), ("store_bytes_per_input_byte", "ratio"),
         ("peak_rss_mb", "MB")]
END_TO_END = {
    "warehouse_daily": DAILY,
    "corpus_daily": DAILY,
    "query_mix": [("setup_s", "s"), ("query_geomean_s", "s"),
                  ("query_p90_s", "s"), ("peak_rss_mb", "MB")],
}


def steal():
    """Seconds of CPU time the hypervisor took from this machine."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def wait_for_quiet():
    """Waits (at most QUIET_WAIT_S) while the hypervisor takes more than
    QUIET_STEAL of the machine's CPU time: a run started inside another
    tenant's burst measures the neighbour, not graft."""
    deadline = time.time() + QUIET_WAIT_S
    while True:
        s0 = steal()
        time.sleep(1)
        share = (steal() - s0) / os.cpu_count()
        if share <= QUIET_STEAL or time.time() >= deadline:
            return share


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_mb", ".mb")):
        return "MB"
    if name.endswith(("parallelism", "ratio")):
        return "ratio"
    return "count"


def oracle_checks(sf_dir, tmp):
    """Compares each warm-up result with DuckDB running its oracle SQL,
    the comparison tools/check.py makes for Verify's output."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
    with open(os.path.join(tmp, "oracle_sql.json")) as f:
        oracle = json.load(f)
    checks = []
    for name, sql in sorted(oracle.items()):
        try:
            got = pd.read_parquet(os.path.join(tmp, "results", name))
            exp = con.execute(sql).fetchdf()
            got, exp = got[sorted(got.columns)], exp[sorted(exp.columns)]
            assert list(got.columns) == list(exp.columns), "columns differ"
            cols = [c for c in got.columns if not got[c].map(
                lambda v: isinstance(v, (list, dict, bytes))).any()]
            g = got.sort_values(by=cols).reset_index(drop=True)
            e = exp.sort_values(by=cols).reset_index(drop=True)
            assert len(g) == len(e), f"rows {len(g)} vs {len(e)}"
            pd.testing.assert_frame_equal(g, e, check_dtype=False,
                                          check_exact=True)
            checks.append({"name": f"oracle {name}", "ok": True})
        except Exception as ex:  # a mismatch or a missing result
            checks.append({"name": f"oracle {name}", "ok": False,
                           "detail": str(ex).replace("\n", " ")[:300]})
    return checks


def attempt(a, out, timeout):
    """One JVM run in its own temp dir, removed afterwards. Returns the
    result, its checks, the CPU-steal share during the run and its wall
    time."""
    t0 = time.time()
    tmp = tempfile.mkdtemp(prefix="run-", dir=build.BUILD_ROOT)
    proc = None
    try:
        spec = inputs.spec(a.workload, a.seed,
                           max(2, a.seconds // DAY_SECONDS),
                           max(1, a.seconds // ROUND_SECONDS), a.sf_dir, tmp)
        spec.update(trace=a.trace == 1, cpus=os.cpu_count(), setups=SETUPS,
                    trace_file=os.path.join(
                        build.BUILD_ROOT, "traces",
                        f"{a.workload}-seed{a.seed}.jsonl"))
        print(f"[perfbench] cpu steal before start {wait_for_quiet():.3f}",
              file=sys.stderr)
        spec_path = os.path.join(tmp, "spec.json")
        result_path = os.path.join(tmp, "result.json")
        spec["t0_ms"] = int(time.time() * 1000)
        with open(spec_path, "w") as f:
            json.dump(spec, f)
        st0 = steal()
        proc = subprocess.Popen(
            build.java_cmd(out, tmp) + [spec_path, result_path],
            cwd=tmp, env=build.java_env(tmp), stdout=sys.stderr,
            stderr=sys.stderr)
        code = proc.wait(timeout=timeout - (time.time() - t0))
        wall = time.time() - spec["t0_ms"] / 1e3
        share = (steal() - st0) / wall / os.cpu_count()
        print(f"[perfbench] jvm wall {wall:.2f} s, cpu steal {share:.3f}",
              file=sys.stderr)
        if code != 0:
            raise RuntimeError(f"benchmark JVM exited with {code}")
        with open(result_path) as f:
            res = json.load(f)
        checks = res["checks"]
        if a.workload == "query_mix":
            checks += oracle_checks(a.sf_dir, tmp)
        return res, checks, share, wall
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(END_TO_END))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=30)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf-dir", default=inputs.DEFAULT_SF_DIR)
    a = p.parse_args()

    out = build.build(a.sf_dir)

    def stop(signum, frame):
        raise SystemExit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    limit = TIMEOUT_S.get(a.workload, RUN_LIMIT_S)
    start = time.time()
    res, checks, share, wall = attempt(a, out, limit)
    # A run another tenant slowed (the hypervisor took more than
    # RETRY_STEAL of the CPU time) is measured once more when the time
    # limit allows; the run with less steal is reported.
    left = limit - (time.time() - start)
    if share > RETRY_STEAL and QUIET_WAIT_S + wall < left:
        print(f"[perfbench] cpu steal {share:.3f} during the run: "
              "measuring again", file=sys.stderr)
        try:
            again = attempt(a, out, left)
            if again[2] < share:
                res, checks, share, wall = again
        except (RuntimeError, subprocess.TimeoutExpired) as e:
            print(f"[perfbench] second run failed: {e}", file=sys.stderr)

    for c in checks:
        print(f"[perfbench] check {'ok  ' if c['ok'] else 'FAIL'} "
              f"{c['name']} {c.get('detail', '')}", file=sys.stderr)
    m = res["metrics"]
    print(f"[perfbench] failed_ops_frac {m['failed_ops_frac']:.4f} = "
          f"{res['failed']}/{res['attempted']}", file=sys.stderr)
    if a.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)}
                   for k, v in res["per_layer"].items()}
    else:
        metrics = {k: {"value": m[k], "unit": u}
                   for k, u in END_TO_END[a.workload]}
    correct = all(c["ok"] for c in checks)
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        sys.exit(2)
