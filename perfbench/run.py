"""The repository benchmark: one workload, closed loop, outputs checked.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One client runs one operation at a time on
`local[nproc]` in this process. The run sets up the session `SETUPS` times
(`get_session` + `register_views`), then runs rounds of the workload's
operations: the first round is the cold one, and further (warm) rounds run
until `--seconds` have passed, with at least `MIN_WARM` warm rounds. Every
operation is checked against the golden (row count, hash sum) of the seed's
input variant; an exception or a mismatch counts as a failed operation.

The last line of standard output is one JSON object: `correct`, `attempted`,
`failed` and `metrics`, which holds every `end_to_end` metric of
BENCHMARK.json with `--trace 0` and every `per_layer` metric with
`--trace 1`. A traced run enables Spark's event log, parses it into the
per-layer counters and writes the run's spans to
`.perfbench_work/trace/`. Human-readable lines go to standard error.

`--record-goldens` runs one round on every input variant and rewrites the
workload's golden file instead of measuring.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUPS = 3
# JIT compilation and heap sizing go on through the first warm rounds; on
# text_dedup they take about three of them. The first third of the warm
# rounds is warm-up, the rest are the steady rounds.
MIN_WARM = 4


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _env(work: str) -> None:
    """Keep every file the run writes inside the checkout, and let Spark's
    Python workers import the engine."""
    for sub in ("spark-local", "tmp", "eventlog", "trace"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_DRIVER_MEM"] = "4g"
    sys.path.insert(0, ROOT)


class Runner:
    def __init__(self, workload: str, seed: int, trace: bool, work: str):
        import bench
        from perfbench import checks, host, inputs
        from perfbench.trace import Tracer
        from perfbench.workloads import WORKLOADS

        self.cls = WORKLOADS[workload]
        self.seed = seed
        self.trace = trace
        self.work = work
        self.variant = inputs.variant_of(seed)
        self.nproc = host.nproc()
        self.steal = host.Steal(bench._steal_ticks)
        self.tracer = Tracer()
        self.goldens = checks.Goldens(
            os.path.join(ROOT, "perfbench", "goldens", f"{workload}.json")
        )
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.setups: list[dict] = []
        self.recording = False

    def conf(self) -> dict:
        conf = {"spark.ui.showConsoleProgress": "false"}
        if self.trace:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://"
                    + os.path.join(self.work, "eventlog"),
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        return conf

    def setup(self, data_dir: str) -> None:
        from pyofs_spark.session import get_session
        from pyofs_spark.sources.tables import register_views

        with self.tracer.span(f"setup {len(self.setups)}"):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            with self.tracer.span("session.get_session"):
                self.spark = get_session(
                    app_name=f"perfbench-{self.cls.name}",
                    master=f"local[{self.nproc}]",
                    extra_conf=self.conf(),
                )
            t1 = time.perf_counter()
            with self.tracer.span("sources.register_views"):
                register_views(self.spark, data_dir)
            t2 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.setups.append(
            {"get_session_s": t1 - t0, "register_views_s": t2 - t1, "setup_s": t2 - t0}
        )

    def run_op(self, wl, op: str, round_no: int) -> dict:
        from perfbench.checks import checksum

        rec = {"build_s": 0.0, "exec_s": 0.0, "ok": False}
        with self.tracer.span(op) as sp:
            rec["group"] = sp["id"]
            self.spark.sparkContext.setJobGroup(sp["id"], f"round {round_no} {op}")
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                with self.tracer.span("build"):
                    df = wl.build(op)
                t1 = time.perf_counter()
                with self.tracer.span("execute"):
                    got = checksum(df)
                rec.update(build_s=t1 - t0, exec_s=time.perf_counter() - t1, result=got)
                rec["layers"] = wl.op_layers()
                want = self.goldens.expected(self.variant, op)
                rec["ok"] = want is not None and tuple(got) == want
                if not rec["ok"] and not self.recording:
                    print(
                        f"# CHECK FAILED {op} variant {self.variant}: "
                        f"got {got}, expected {want}",
                        file=sys.stderr,
                    )
            except Exception:
                traceback.print_exc()
            finally:
                rec["wall_s"] = time.perf_counter() - t0
                wl.cleanup()
        if not rec["ok"]:
            self.failed += 1
        return rec

    def run_round(self, wl, round_no: int) -> dict:
        with self.tracer.span(f"round {round_no}"):
            ops = {op: self.run_op(wl, op, round_no) for op in wl.ops()}
        return {"ops": ops, "wall_s": sum(o["wall_s"] for o in ops.values())}

    def workload(self, data_dir: str):
        from perfbench.workloads import Context

        ctx = Context(self.spark, self.work, data_dir, self.variant)
        return self.cls(ctx)

    def measure(self, seconds: float) -> dict:
        from perfbench import inputs

        data_dir = inputs.prepare(ROOT, self.work, self.cls.name, self.variant)
        for _ in range(SETUPS):
            self.setup(data_dir)
        wl = self.workload(data_dir)
        rounds = []
        t_loop = time.perf_counter()
        while len(rounds) <= MIN_WARM or time.perf_counter() - t_loop < seconds:
            rounds.append(self.run_round(wl, len(rounds)))
        warm = rounds[1:]
        warm = warm[len(warm) // 3 :]
        # a steady round's time is the sum of each operation's median over
        # the steady rounds, so one disturbed operation moves no figure
        steady_ops = {
            op: statistics.median(r["ops"][op]["wall_s"] for r in warm)
            for op in warm[0]["ops"]
        }
        steady_s = sum(steady_ops.values())
        e2e = {
            "setup_s": statistics.median(s["setup_s"] for s in self.setups),
            "cold_s": rounds[0]["wall_s"],
            "items_per_s": wl.items() / steady_s,
        }
        layers = {}
        if self.trace:
            with self.tracer.span("probes") as sp:
                self.spark.sparkContext.setJobGroup(sp["id"], "layer probes")
                layers.update(wl.probes())
            layers.update(wl.layers(warm))
            layers.update(self.layers(warm))
            layers.update({f"trace.{k}": v for k, v in e2e.items()})
        app_id = self.spark.sparkContext.applicationId
        self.spark.stop()
        if self.trace:
            layers.update(self.event_log_layers(app_id, warm))
        summary = {
            "workload": self.cls.name,
            "seed": self.seed,
            "variant": self.variant,
            "nproc": self.nproc,
            "steal_frac": self.steal.fraction(),
            "rounds": len(rounds),
            "round_wall_s": [r["wall_s"] for r in rounds],
            "steady_op_s": steady_ops,
            "items_per_round": wl.items(),
            "item": wl.item,
        }
        if self.trace:
            path = os.path.join(
                self.work, "trace", f"{self.cls.name}-seed{self.seed}-{os.getpid()}.json"
            )
            self.tracer.write(path, summary)
            summary["spans"] = path
        return {"e2e": e2e, "layers": layers, "summary": summary}

    def layers(self, warm: list[dict]) -> dict[str, float]:
        from perfbench import host

        out = {}
        for op in warm[0]["ops"]:
            for part in ("build_s", "exec_s"):
                out[f"plans.{part}.{op}"] = statistics.median(
                    r["ops"][op][part] for r in warm
                )
        return out | {
            "session.get_session_s": statistics.median(
                s["get_session_s"] for s in self.setups
            ),
            "sources.register_views_s": statistics.median(
                s["register_views_s"] for s in self.setups
            ),
            "session.peak_rss_mb": host.peak_rss_mb(),
            "host.steal_frac": self.steal.fraction(),
        }

    def event_log_layers(self, app_id: str, warm: list[dict]) -> dict[str, float]:
        """Per-round sums from the event log, median over the steady rounds;
        every Spark job becomes a span under the operation that ran it."""
        from perfbench.trace import EventLog

        path = os.path.join(self.work, "eventlog", app_id)
        log = EventLog(path)
        os.remove(path)
        for job_id, group, start, end in log.jobs:
            if group is not None:
                self.tracer.add(f"job {job_id}", start, end, group)
        per_round = []
        for r in warm:
            c = log.total(o["group"] for o in r["ops"].values())
            per_round.append(
                {
                    "plans.cpu_s": c["cpu_ns"] / 1e9,
                    "plans.run_s": c["run_ms"] / 1e3,
                    "plans.gc_ms": c["gc_ms"],
                    "plans.tasks": c["tasks"],
                    "plans.jobs": c["jobs"],
                    "plans.shuffle_bytes_written": c["shuffle_bytes_written"],
                    "plans.shuffle_records": c["shuffle_records"],
                    "plans.shuffle_fetch_wait_ms": c["fetch_wait_ms"],
                    "plans.broadcast_bytes": c["broadcast_bytes"],
                    "plans.spill_bytes": c["spill_bytes"],
                    "sources.scan_rows": c["scan_rows"],
                    "sources.scan_bytes": c["scan_bytes"],
                    "sources.scan_ms": c["scan_ms"],
                    "operators.python_s": c["python_run_ms"] / 1e3,
                    "operators.arrow_bytes_to_python": c["arrow_bytes_to_python"],
                    "operators.arrow_bytes_from_python": c["arrow_bytes_from_python"],
                }
            )
            for op, o in r["ops"].items():
                per_round[-1][f"plans.jobs.{op}"] = log.groups[o["group"]]["jobs"]
            if "dedup_components" in r["ops"]:
                per_round[-1]["operators.components_jobs"] = per_round[-1][
                    "plans.jobs.dedup_components"
                ]
        keys = set().union(*per_round)
        return {k: statistics.median(p.get(k, 0) for p in per_round) for k in keys}

    def record_goldens(self) -> None:
        from perfbench import inputs

        self.recording = True
        for variant in range(inputs.VARIANTS):
            self.variant = variant
            data_dir = inputs.prepare(ROOT, self.work, self.cls.name, variant)
            if self.spark is None:
                self.setup(data_dir)
            wl = self.workload(data_dir)
            for op, rec in self.run_round(wl, 0)["ops"].items():
                if "result" not in rec:
                    raise RuntimeError(f"{op} failed on variant {variant}")
                self.goldens.record(variant, op, rec["result"])
                print(f"# variant {variant} {op}: {rec['result']}", file=sys.stderr)
        self.goldens.save()
        self.spark.stop()


def _stop_jvm() -> None:
    """End the Spark JVM this process launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()  # the gateway server exits on stdin EOF
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = None


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _emit(spec: dict, values: dict, trace: bool) -> dict:
    """Every metric BENCHMARK.json lists for this mode, with its unit. A
    per-layer metric that belongs to another workload reads 0; measured
    values BENCHMARK.json does not list are left out."""
    from perfbench.workloads import WORKLOADS

    other = {m for w in WORKLOADS.values() for m in w.LAYERS}
    out = {}
    for m in spec["per_layer" if trace else "end_to_end"]:
        name = m["name"]
        if name in values:
            value = values[name]
        elif trace and name in other:
            value = 0
        else:
            raise KeyError(f"metric {name} was not measured")
        out[name] = {"value": value, "unit": m["unit"]}
    return out


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-goldens", action="store_true")
    args = ap.parse_args(argv)

    for need in ("pyofs_spark", "bench.py", "__spark_entry__.py", "scripts/make_sf_scaled.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            return _fail(f"{need} not found under {ROOT}: run from a checkout")
    work = os.path.join(ROOT, ".perfbench_work")
    _env(work)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        return _fail(f"unknown workload {args.workload}; one of {sorted(WORKLOADS)}")
    runner = Runner(args.workload, args.seed, bool(args.trace), work)
    try:
        if args.record_goldens:
            runner.record_goldens()
            return 0
        spec = _spec()
        res = runner.measure(args.seconds)
    finally:
        _stop_jvm()
    values = res["layers"] if args.trace else res["e2e"]
    metrics = _emit(spec, values, bool(args.trace))

    s = res["summary"]
    e2e = res["e2e"]
    print(
        f"# {s['workload']} seed {s['seed']} (variant {s['variant']}), "
        f"local[{s['nproc']}], steal {s['steal_frac']:.2%}, {s['rounds']} rounds "
        f"of {s['items_per_round']} {s['item']}: "
        + ", ".join(f"{w:.3f}" for w in s["round_wall_s"])
        + " s",
        file=sys.stderr,
    )
    print(
        "# steady medians: "
        + ", ".join(f"{op} {t:.3f} s" for op, t in s["steady_op_s"].items()),
        file=sys.stderr,
    )
    print(
        f"# setup_s {e2e['setup_s']:.3f} s, cold_s {e2e['cold_s']:.3f} s, "
        f"{runner.cls.rate} {e2e['items_per_s']:.1f} {s['item']}/s, "
        f"failed_frac {runner.failed}/{runner.attempted}",
        file=sys.stderr,
    )
    if args.trace:
        for name, value in sorted(res["layers"].items()):
            print(f"#   {name} = {value}", file=sys.stderr)
        print(f"# spans: {s['spans']}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": runner.failed == 0,
                "attempted": runner.attempted,
                "failed": runner.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
