"""One benchmark run: expectations, set-up + warm-up, the timed or traced
passes, the metrics.  One client thread; an op starts only after the
previous one has returned and been checked."""

from __future__ import annotations

import os
import random
import signal
import statistics
import sys
import time

import tracing
from workloads import WORKLOADS


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Client:
    """Runs passes, records latencies and failures, samples tree RSS."""

    def __init__(self, workload, seed: int, tracer):
        self.workload = workload
        self.rng = random.Random(seed)
        self.tracer = tracer
        self.passes = 0
        self.peak_rss = 0
        self.pids = tracing.tree_pids()
        self.by_op: dict[str, list[float]] = {}
        self.reset()

    def reset(self) -> None:
        self.latencies: list[float] = []
        self.failures: list[dict] = []
        self.busy = 0.0

    def run_pass(self) -> float:
        """One pass over the op sequence; returns its busy time."""
        self.passes += 1
        ops = self.workload.ops(self.passes)
        if self.workload.shuffled:
            self.rng.shuffle(ops)
        self.pids = tracing.tree_pids()
        busy = 0.0
        for op in ops:
            t0 = time.perf_counter()
            try:
                with self.tracer.op(op.name):
                    result = op.run(self.tracer)
                dt = time.perf_counter() - t0
                error = op.check(result)
            except Exception as exc:  # a failing op is counted and named
                dt = time.perf_counter() - t0
                error = f"{type(exc).__name__}: {str(exc)[:300]}"
            busy += dt
            self.by_op.setdefault(op.name, []).append(round(dt, 4))
            if error is None:
                self.latencies.append(dt)
            else:
                self.failures.append({"op": op.name, "pass": self.passes,
                                      "error": error})
                _log(f"FAILED {op.name}: {error}")
            self.peak_rss = max(self.peak_rss, tracing.tree_rss(self.pids))
        self.busy += busy
        return busy

    def attempted(self) -> int:
        return len(self.latencies) + len(self.failures)


def run_workload(name: str, seed: int, seconds: float, traced: bool,
                 sf_dir: str, store: str, out_dir: str, cache_dir: str):
    workload = WORKLOADS[name]()
    t = time.perf_counter()
    workload.expect(sf_dir, seed, store, cache_dir)
    expect_s = time.perf_counter() - t
    _log(f"expectations computed in {expect_s:.2f}s")

    from energy_emissions_lakehouse_spark.session import get_spark

    t_setup = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{name}")
    session_s = time.perf_counter() - t_setup
    try:
        tracer = tracing.Tracer(spark) if traced else tracing.NULL
        workload.setup(spark, sf_dir)
        client = Client(workload, seed, tracing.NULL)
        warm = []
        for _ in range(workload.warmup_passes):
            warm.append(client.run_pass())
            _log(f"warm-up pass {len(warm)}: {warm[-1]:.3f}s")
        warm_failures = client.failures
        workload.begin_timed()
        setup_s = time.perf_counter() - t_setup
        _log(f"setup {setup_s:.2f}s (session {session_s:.2f}s)")

        client.reset()
        client.tracer = tracer
        t_timed = time.perf_counter()
        if traced:
            tracer.begin(client.pids)
        for _ in range(workload.passes):
            client.run_pass()
        while not traced and time.perf_counter() - t_timed < seconds:
            client.run_pass()
        wall = time.perf_counter() - t_timed
        _log(f"{client.passes - len(warm)} timed passes, "
             f"{client.attempted()} ops in {wall:.2f}s")

        ok = len(client.latencies)
        ops_per_s = ok / client.busy
        info = {
            "passes": client.passes - len(warm),
            "warmup_pass_s": [round(x, 4) for x in warm],
            # timed pass time / last warm-up pass time: ~1 when warm-up
            # reached steady state
            "steady_ratio": round(client.busy / (client.passes - len(warm))
                                  / warm[-1], 4),
            "expect_s": round(expect_s, 3),
            "failures": warm_failures + client.failures,
            "op_latency_s": client.by_op,
        }
        if traced:
            metrics = tracer.finish(workload, ops_per_s)
            path = tracer.write(out_dir, name, seed)
            info["trace_file"] = os.path.relpath(path)
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "ops_per_s": (ops_per_s, "1/s"),
                # with no successful op, the whole busy time stands in
                "op_p50_s": (statistics.median(
                    client.latencies or [client.busy]), "s"),
                "ok_rate": (ok / client.attempted(), "ratio"),
                "peak_rss_mb": (client.peak_rss / 2**20, "MB"),
            }
        result = {
            "correct": not (warm_failures or client.failures),
            "attempted": client.attempted(),
            "failed": len(client.failures),
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()},
        }
        return info, result
    finally:
        workload.close()
        _stop(spark)


def _stop(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers are gone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    children = [p for p in tracing.tree_pids() if p != os.getpid()]
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:  # the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    for pid in children:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; a zombie awaiting its reaper has ended."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False
