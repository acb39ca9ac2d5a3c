"""Replication write-path benchmark: one run of one workload.

    python3 perfbench/run.py --workload lazy_upsert_read --seed 1 --seconds 8 --trace 0

Run from the repository root.  The run builds its inputs from ``--seed``,
starts a local Spark session, drives the workload's closed loop for about
``--seconds`` of timed work, checks the destination tables against the
oracle, prints every metric by name with its unit, and ends with one JSON
line: ``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0``
reports the end-to-end metrics of ``BENCHMARK.json``; ``--trace 1`` installs
the span wrappers and the Spark event log and reports its per-layer
metrics.  Exit status is 0 only when every check passed.

Scratch files go to ``perfbench/.work/`` (removed at exit); full results
and span files go to ``perfbench/.out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def _meminfo(key: str) -> int:
    with open("/proc/meminfo", encoding="ascii") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def _steal_s() -> float:
    """Seconds of CPU time the hypervisor gave to other guests, all CPUs."""
    with open("/proc/stat", encoding="ascii") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _proc_status_kb(pid: int, key: str) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


class Run:
    """One benchmark run: directories, session, clocks and recorded facts."""

    def __init__(self, workload: str, seed: int, seconds: int, traced: bool) -> None:
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.work = str(HERE / ".work" / f"{workload}-{os.getpid()}")
        self.out = HERE / ".out"
        os.makedirs(self.work, exist_ok=True)
        self.out.mkdir(exist_ok=True)
        self.cpus = len(os.sched_getaffinity(0))
        self.gen_s = 0.0
        self.setup_parts: dict[str, float] = {}
        self.facts: dict = {}
        self.spark = None
        self.tracer = None
        self.jvm_pid = 0
        self.timed_start_ms = 0.0
        self._steal0 = 0.0
        self._clk = os.sysconf("SC_CLK_TCK")

    def dir(self, name: str) -> str:
        path = os.path.join(self.work, name)
        os.makedirs(path, exist_ok=True)
        return path

    def start_session(self):
        """Local Spark session whose scratch files stay inside the run dir."""
        tmp, local = self.dir("tmp"), self.dir("spark-local")
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        import tempfile

        tempfile.tempdir = None  # re-read TMPDIR
        conf = {
            # the engine's default heap is sized for a large host
            "spark.driver.memory": "3g",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": self.dir("warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.traced:
            conf |= {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.dir("eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        from debezium_server_bigquery_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.workload}", master=f"local[{self.cpus}]",
                               extra_conf=conf)
        self.setup_parts["session_start_s"] = time.perf_counter() - t0
        jvm = self.spark._jvm
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())
        self.facts["host"] = {
            "nproc": self.cpus,
            "master": f"local[{self.cpus}]",
            "mem_available_kb": _meminfo("MemAvailable"),
            "spark": self.spark.version,
            "java": str(jvm.java.lang.System.getProperty("java.version")),
            "python": platform.python_version(),
        }
        if self.traced:
            import tracing

            self.tracer = tracing.Tracer(self.spark)
            self.tracer.install()
        return self.spark, self.tracer

    def stop(self) -> None:
        """Stop Spark and the JVM it runs in, and wait until it has exited."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gateway, SparkContext._gateway, SparkContext._jvm = SparkContext._gateway, None, None
        if gateway is None:
            return
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()

    def cpu(self) -> float:
        """JVM plus Python CPU seconds so far."""
        with open(f"/proc/{self.jvm_pid}/stat", encoding="ascii") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        t = os.times()
        return (int(fields[11]) + int(fields[12])) / self._clk + t.user + t.system

    def timed_start(self) -> None:
        self.timed_start_ms = time.time() * 1000.0
        self._steal0 = _steal_s()

    def batch_latencies(self, e2e: dict, lat: list[float]) -> None:
        import statistics

        from workloads import TAIL_QUANTILE, quantile

        e2e["batch_p50_s"] = (statistics.median(lat), "s")
        e2e["batch_tail_s"] = (quantile(lat, TAIL_QUANTILE), "s")
        self.facts["batch_tail"] = {"quantile": TAIL_QUANTILE, "n": len(lat),
                                    "beyond": sum(1 for x in lat if x > e2e["batch_tail_s"][0])}
        self.facts["timed_batch_s"] = [round(x, 3) for x in lat]


def _layer_metrics(run: Run, result: dict) -> dict:
    import tracing

    tracer = run.tracer
    layer = dict(result["layer"])
    layer.update(tracing.span_metrics(tracer))
    layer["session.start_s"] = (run.setup_parts["session_start_s"], "s")
    layer["session.jvm_peak_rss_mb"] = (_proc_status_kb(run.jvm_pid, "VmHWM") / 1024.0, "MB")
    layer["operators.table.files_per_partition"] = (
        tracing.files_per_partition(result["target"]), "count")
    tracer.uninstall()
    tracer.dump(str(run.out / f"spans-{run.workload}-seed{run.seed}.jsonl"))
    log_dir = os.path.join(run.work, "eventlog")
    run.stop()  # closes the event log
    layers = tracing.parse_event_log(tracing.event_log_file(log_dir), run.timed_start_ms)
    total = sum(v["run_s"] for v in layers.values())
    unattributed = layers.get(tracing.UNATTRIBUTED, {}).get("run_s", 0.0)
    for name, vals in layers.items():
        for field, v in vals.items():
            layer[f"spark.{name}.{field}"] = (v, tracing.SPARK_UNITS[field])
    layer["spark.attributed_run_share"] = ((total - unattributed) / total if total else 0.0,
                                           "share")
    return layer


def _overhead(run: Run, e2e: dict) -> dict:
    """Traced vs untraced run of the same workload and seed, if one exists."""
    path = run.out / f"{run.workload}-seed{run.seed}-trace0.json"
    if not path.exists():
        return {}
    base = json.loads(path.read_text())["metrics"]
    out = {}
    for name in ("batch_p50_s", "events_per_s", "cpu_s_per_kevent"):
        if name in base and base[name]["value"]:
            out[name] = e2e[name][0] / base[name]["value"] - 1.0
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [str(HERE), str(ROOT)]
    try:
        spec = json.loads((ROOT / "BENCHMARK.json").read_text())
        import debezium_server_bigquery_spark.cli  # noqa: F401  the program under test
    except (OSError, ImportError) as exc:
        print(f"perfbench: cannot load the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        result = workloads.WORKLOADS[args.workload](run)
        t0 = time.perf_counter()
        workloads.final_check(result)
        run.facts["final_check_s"] = round(time.perf_counter() - t0, 3)
        client = result["client"]
        e2e = dict(result["e2e"])
        e2e["setup_s"] = (sum(run.setup_parts.values()), "s")
        e2e["ok_share"] = ((client.attempted - client.failed) / client.attempted, "share")
        run.facts.update(seed=run.seed, seconds=run.seconds, trace=run.traced,
                         setup_parts={k: round(v, 3) for k, v in run.setup_parts.items()},
                         input_generation_s=round(run.gen_s, 3),
                         steal_s_from_timed_start=round(_steal_s() - run._steal0, 2),
                         mismatches=client.mismatches)
        metrics = dict(e2e)
        if run.traced:
            metrics.update(_layer_metrics(run, result))
            run.facts["trace_overhead_vs_untraced"] = _overhead(run, e2e)
    finally:
        run.stop()
        shutil.rmtree(run.work, ignore_errors=True)

    correct = not client.mismatches and client.failed == 0
    wanted = spec["per_layer" if run.traced else "end_to_end"]
    final = {}
    for m in wanted:
        value, unit = metrics.get(m["name"], (0, m["unit"]))  # layer not exercised
        if unit != m["unit"]:
            raise RuntimeError(f"{m['name']}: unit {unit} != {m['unit']} in BENCHMARK.json")
        if m["name"] not in metrics and not run.traced:
            raise RuntimeError(f"end-to-end metric {m['name']} was not measured")
        final[m["name"]] = {"value": value, "unit": unit}
    record = {"correct": correct, "attempted": client.attempted, "failed": client.failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())},
              "facts": run.facts}
    (run.out / f"{run.workload}-seed{run.seed}-trace{int(run.traced)}.json").write_text(
        json.dumps(record, indent=1, default=str))
    for name, (value, unit) in sorted(metrics.items()):
        print(f"{name}\t{value:.6g}\t{unit}")
    print("facts " + json.dumps(run.facts, default=str))
    for line in client.mismatches:
        print("MISMATCH " + line)
    print(json.dumps({"correct": correct, "attempted": client.attempted,
                      "failed": client.failed, "metrics": final}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
