"""Ingest benchmark for the Storage Write engine: one command, one workload.

    python3 perfbench/run.py --cores 2 --shuffle-partitions 2 --driver-mem 2g \
        --workload ingest_bulk --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The parent process (this file) generates
the seeded inputs, then starts the measured worker processes one after
another and never overlaps them:

- ``--trace 0``: one set-up probe and one measured run; prints every
  end-to-end metric of ``BENCHMARK.json``.
- ``--trace 1``: one untraced run, then one traced run with the side
  measurements; prints every per-layer metric, plus the tracing overhead
  (traced minus untraced timed-phase wall time). Spans go to
  ``.perfbench-work/traces/``.

The last stdout line is the JSON result. A run whose outputs fail the
correctness gates prints ``"correct": false`` and exits with code 1; a
checkout without the engine package exits with code 2 and prints nothing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from worker import tree_pids  # noqa: E402

PACKAGE = "kafka_connect_bigquery_storage_write_spark"
WORKLOADS = ("ingest_bulk", "cdc_stream")
PROBES = 1  # set-up probes per run; the measured run is one more sample
PAGE = os.sysconf("SC_PAGE_SIZE")


def tree_rss_mb(pids: list[int]) -> float:
    """Summed RSS of a process tree. A child whose memory counters equal
    its parent's is a vfork()ed launcher that still shares the parent's
    address space (the JVM spawns helpers that way); counting it would
    add the whole JVM a second time."""
    statm, parent = {}, {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                statm[pid] = fh.read().split()[:2]
            with open(f"/proc/{pid}/stat") as fh:
                parent[pid] = int(fh.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            statm.pop(pid, None)
    pages = sum(int(m[1]) for pid, m in statm.items() if statm.get(parent.get(pid)) != m)
    return pages * PAGE / 1e6


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def reap(pids: set[int], timeout: float = 20.0) -> None:
    """Wait until the worker's JVM and Python workers have exited; kill
    whatever outlives ``timeout``."""
    deadline = time.time() + timeout
    while any(alive(p) for p in pids):
        if time.time() > deadline:
            for p in pids:
                if alive(p):
                    os.kill(p, signal.SIGKILL)
            deadline = float("inf")
        time.sleep(0.05)


def run_worker(args, work: str, tag: str, mode: str, trace: int) -> dict:
    """Start one measured process, sample its tree's RSS, return its result."""
    env = dict(os.environ)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep every temp file of Python, the JVM and Spark inside the checkout
    env.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=tmp,
        SPARK_GRAFT_DRIVER_MEM=args.driver_mem,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
    )
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"), "--workload", args.workload, "--work", work,
        "--tag", tag, "--mode", mode, "--cores", str(args.cores), "--shuffle-partitions",
        str(args.shuffle_partitions), "--trace", str(trace), "--spawned-at", repr(time.time()),
    ]
    if args.misconfigure:
        cmd += ["--misconfigure", args.misconfigure]
    log_path = os.path.join(work, f"worker-{tag}.log")
    peak = [0.0]
    seen: set[int] = set()
    started = time.time()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env)
        done = threading.Event()

        def sample() -> None:
            while not done.wait(0.1):
                pids = tree_pids(proc.pid)
                seen.update(pids)
                peak[0] = max(peak[0], tree_rss_mb(pids))

        sampler = threading.Thread(target=sample, daemon=True)
        sampler.start()
        try:
            code = proc.wait(timeout=170)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = -9
        done.set()
        sampler.join()
    reap(seen - {proc.pid})
    result_path = os.path.join(work, f"result-{tag}.json")
    if code != 0 or not os.path.exists(result_path):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise RuntimeError(f"worker {tag} exited with code {code}")
    with open(result_path) as fh:
        res = json.load(fh)
    res["peak_rss_mb"] = peak[0]
    print(f"worker {tag}: {time.time() - started:.1f}s, set-up {res['setup_s']:.1f}s", file=sys.stderr)
    return res


def declared_units(kind: str) -> dict[str, str]:
    with open("BENCHMARK.json") as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # pinned in BENCHMARK.json's command
    ap.add_argument("--cores", type=int, required=True, help="Spark local[N] core count")
    ap.add_argument("--shuffle-partitions", type=int, required=True)
    ap.add_argument("--driver-mem", required=True, help="driver heap, via SPARK_GRAFT_DRIVER_MEM")
    ap.add_argument("--misconfigure", choices=("framing",), help="cdc_stream: read Confluent-framed input as unframed Avro")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(PACKAGE, "__init__.py")):
        print(f"no {PACKAGE} package in {os.getcwd()}: run from the root of a checkout", file=sys.stderr)
        return 2
    import gen

    base = os.path.join(os.getcwd(), ".perfbench-work")
    work = os.path.join(base, f"{args.workload}-seed{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        gen.generate(args.workload, os.path.join(work, "in"), args.seed, args.seconds, args.cores, side=bool(args.trace))
        if args.trace:
            plain = run_worker(args, work, "untraced", "run", 0)
            res = run_worker(args, work, "traced", "run", 1)
            res["failures"] += plain["failures"]
            metrics = dict(res["layers"])
            metrics.update({k: res[k] for k in ("session.start_ms", "session.warmup_ms")})
            metrics["trace.overhead_pct"] = 100 * (res["wall_s"] / plain["wall_s"] - 1)
            # a metric of a layer the workload does not run reads 0
            for name in declared_units("per_layer"):
                metrics.setdefault(name, 0.0)
            kind = "per_layer"
            print(f"spans: {res['spans_file']}", file=sys.stderr)
        else:
            setups = [run_worker(args, work, f"probe{i}", "probe", 0)["setup_s"] for i in range(PROBES)]
            res = run_worker(args, work, "run", "run", 0)
            setups.append(res["setup_s"])
            metrics = {k: res[k] for k in ("rows_per_s", "batch_p50_ms", "visible_p50_ms", "cpu_s", "peak_rss_mb")}
            metrics["setup_s"] = statistics.median(setups)
            kind = "end_to_end"
            print(
                f"{args.workload}: {len(res['batch_ms'])} batches, {res['rows']} rows in {res['wall_s']:.2f}s; "
                f"batch ms {[round(x) for x in res['batch_ms']]}; setup samples {setups}",
                file=sys.stderr,
            )
    finally:
        shutil.rmtree(work, ignore_errors=True)

    units = declared_units(kind)
    if sorted(metrics) != sorted(units):
        raise RuntimeError(f"metrics {sorted(set(metrics) ^ set(units))} do not match BENCHMARK.json {kind}")
    failures = res["failures"]
    for f in failures:
        print(f"CORRECTNESS: {f}", file=sys.stderr)
    attempted = res["attempted"]
    out = {
        "correct": not failures,
        "attempted": attempted,
        "failed": min(attempted, len(failures)),
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in sorted(metrics.items())},
    }
    print(json.dumps(out))
    return 0 if not failures else 1


if __name__ == "__main__":
    sys.exit(main())
