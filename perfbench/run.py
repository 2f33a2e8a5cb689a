"""The repository benchmark: one command per (workload, seed) run.

    python3 perfbench/run.py --workload filter_write --seed 7 --seconds 6 --trace 0

Run it from the repository root. Workloads (see BENCHMARK.json):

* ``filter_write``  - ``QualityFilterPipeline().run`` writing output + lineage;
* ``contract_gate`` - parse a raw-table contract and ``verify_contract`` it;
* ``near_dup``      - ``minhash_near_duplicates`` + ``ngram_jaccard_all_pairs``.

Steps: build the seeded inputs and reference answers if they are not cached
(``prep.py``, never timed); probe the host; start the measured process
(``worker.py``) and sample the resident memory of its whole process tree;
stop every process it left; probe the host again. It prints a detailed
report line (host context, per-operation times, errors) and then, as the
last line, ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Everything it writes stays under ``perfbench/data`` and
``perfbench/out``.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))

#: input size of each workload: documents for filter_write and near_dup,
#: rows for contract_gate
SIZES = {"filter_write": 6_000, "contract_gate": 20_000, "near_dup": 500}
#: the measured process is killed after this long, so that a hung run still
#: ends (and fails) inside the 180 s a run may take
WORKER_TIMEOUT_S = 150.0


def _spec(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return json.load(fh)


# -- host context: recorded only, never used to drop or reweight a run -----


def _cpu_jiffies() -> tuple[int, int]:
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def host_context() -> dict:
    """Time of a fixed pure-Python loop, fresh-page fault rate, and CPU steal
    over the probe's own window."""
    import numpy as np

    steal0, total0 = _cpu_jiffies()
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i
    cpu_loop_s = time.perf_counter() - t0
    buf = np.empty(16_000_000)  # 128 MB of never-touched pages
    t0 = time.perf_counter()
    buf[::512] = 1.0
    page_s = time.perf_counter() - t0
    del buf
    steal1, total1 = _cpu_jiffies()
    return {
        "cpu_loop_s": cpu_loop_s,
        "fresh_page_gbps": 128e6 / page_s / 1e9,
        "steal_pct": 100.0 * (steal1 - steal0) / max(1, total1 - total0),
    }


# -- process tree -----------------------------------------------------------


def _children() -> dict[int, list[int]]:
    tree: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        tree.setdefault(ppid, []).append(int(name))
    return tree


def _descendants(pid: int) -> list[tuple[int, int]]:
    """(pid, parent pid) of ``pid`` and every process below it."""
    tree, out, todo = _children(), [], [(pid, 0)]
    while todo:
        p, parent = todo.pop()
        out.append((p, parent))
        todo.extend((c, p) for c in tree.get(p, ()))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError):
        return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return "?"


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return "?"


def _unexeced_fork(pid: int, parent: int) -> bool:
    """A child the JVM has forked (or vforked) to launch a program but that
    has not exec'd yet: same executable as its parent, named after the
    forking thread. Its RSS is its parent's memory, counted once already."""
    return _exe(pid) == _exe(parent) and _comm(pid) != _comm(parent)


class TreeSampler(threading.Thread):
    """Peak summed RSS of a process tree (this process included), sampled
    every 0.2 s; also remembers every pid it saw so they can be reaped."""

    def __init__(self, pid: int) -> None:
        super().__init__(daemon=True)
        self.pid, self.peak, self.seen = pid, 0, set()
        self.at_peak: list[tuple[str, float]] = []
        self._stop_event = threading.Event()

    def run(self) -> None:
        while not self._stop_event.is_set():
            tree = _descendants(self.pid)
            self.seen.update(p for p, _parent in tree)
            pids = [os.getpid()] + [p for p, parent in tree if not (parent and _unexeced_fork(p, parent))]
            rss = {p: _rss_bytes(p) for p in pids}
            if sum(rss.values()) > self.peak:
                self.peak = sum(rss.values())
                self.at_peak = [(_comm(p), r / 2**20) for p, r in rss.items() if r]
            self._stop_event.wait(0.2)

    def stop(self) -> None:
        self._stop_event.set()
        self.join()


def _reap(pids, timeout: float = 20.0) -> None:
    """Terminate whatever of ``pids`` is still alive and wait until all are
    gone (SIGKILL after ``timeout``)."""

    def alive():
        out = []
        for p in pids:
            try:
                with open(f"/proc/{p}/stat") as fh:
                    if fh.read().rsplit(")", 1)[1].split()[0] != "Z":
                        out.append(p)
            except OSError:
                pass
        return out

    for sig, wait in ((signal.SIGTERM, timeout), (signal.SIGKILL, 5.0)):
        left = alive()
        if not left:
            return
        for p in left:
            try:
                os.kill(p, sig)
            except OSError:
                pass
        deadline = time.monotonic() + wait
        while alive() and time.monotonic() < deadline:
            time.sleep(0.1)


# -- one run ------------------------------------------------------------------


def run(args, root: str) -> tuple[dict, dict]:
    sys.path.insert(0, HERE)
    from prep import data_dir

    size = args.size or SIZES[args.workload]
    data = data_dir(root, args.workload, size, args.seed)
    scratch = os.path.join(root, "perfbench", "out", f"{args.workload}-trace{args.trace}")
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=root,  # the Python workers Spark forks import the checkout
        TMPDIR=os.path.join(scratch, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(scratch, "spark-local"),
        PYSPARK_PYTHON=sys.executable,
        # the same set and dict iteration order in every run and every
        # Python worker, so plans are built in the same column order
        PYTHONHASHSEED="0",
    )

    if not os.path.exists(os.path.join(data, "_READY")):
        subprocess.run(
            [sys.executable, os.path.join(HERE, "prep.py"), "--workload", args.workload,
             "--size", str(size), "--seed", str(args.seed)],
            cwd=root, env=env, check=True, stdout=subprocess.DEVNULL,
        )
    host_start = host_context()
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"), "--workload", args.workload,
        "--data", data, "--scratch", scratch, "--seconds", str(args.seconds),
        "--trace", str(args.trace),
    ]
    if args.corrupt:
        cmd.append("--corrupt")
    log_path = os.path.join(scratch, "worker.log")
    with open(log_path, "w") as log:
        spawned = time.monotonic()
        proc = subprocess.Popen(
            cmd + ["--spawned-at", repr(spawned)], cwd=root, env=env,
            stdout=subprocess.PIPE, stderr=log, text=True,
        )
        sampler = TreeSampler(proc.pid)
        sampler.start()
        try:
            stdout, _ = proc.communicate(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            stdout, _ = proc.communicate()
        finally:
            sampler.stop()
            _reap(sampler.seen - {proc.pid})
    host_end = host_context()

    lines = [l for l in stdout.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        with open(log_path) as fh:
            tail = fh.read()[-3000:]
        raise RuntimeError(f"worker exited {proc.returncode}; log tail:\n{tail}")
    report = json.loads(lines[-1])
    report.update(
        workload=args.workload, seed=args.seed, size=size, trace=args.trace,
        peak_rss_mb=sampler.peak / 2**20, rss_at_peak_mb=sampler.at_peak,
        host_start=host_start, host_end=host_end,
    )
    spec = _spec(root)
    if args.trace:
        values = dict(report["per_layer"], **{"trace.overhead_pct": report["trace_overhead_pct"]})
        wanted = spec["per_layer"]
    else:
        values = {
            "docs_per_s": report["docs_per_s"],
            "verify_s_p50": report["op_s_p50"],
            "verify_s_p90": report["op_s_p90"],
            "setup_s": report["setup_s"],
            "peak_rss_mb": report["peak_rss_mb"],
        }
        wanted = spec["end_to_end"]
    # a metric of a layer the workload bypasses measures 0 there
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted}
    result = {
        "correct": report["failed"] == 0 and report["attempted"] >= 1,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": metrics,
    }
    return report, result


def main() -> int:
    ap = argparse.ArgumentParser(description="soda_core_spark benchmark (see perfbench/README.md)")
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="length of the timed window")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", type=int, default=None, help="input size override (self-tests only)")
    ap.add_argument("--corrupt", action="store_true", help="self-test: falsify every output before it is checked")
    args = ap.parse_args()

    root = os.getcwd()
    missing = [
        p for p in ("BENCHMARK.json", os.path.join("soda_core_spark", "__init__.py"))
        if not os.path.isfile(os.path.join(root, p))
    ]
    if missing:
        print(f"perfbench: run from the repository root; missing {missing}", file=sys.stderr)
        return 2
    try:
        report, result = run(args, root)
    except (RuntimeError, subprocess.CalledProcessError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    print(json.dumps({"report": report}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
