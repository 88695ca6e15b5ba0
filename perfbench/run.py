"""Benchmark of the join-order engine, run from the repository root:

    python3 perfbench/run.py --workload plan_sweep --seed 1 --seconds 10 --trace 0

Workloads (see ``workloads.py``): ``plan_sweep`` (planner search under
true and perturbed cardinalities, no Spark), ``join_exec`` (planned
joins executed on Spark) and ``pipeline_ops`` (one pipeline operator of
each family on Spark).  Each run:

1. generates its inputs from ``--seed`` inside ``.perfbench_work/``;
2. sets the workload up, counting from process start;
3. runs one cold pass over the ops, then checks every result: Spark
   results against their DuckDB twins, plans for validity and cost;
4. runs warm passes until the passes have taken ``--seconds`` in all,
   cold pass included (at least one warm pass; with ``--trace 1`` at
   least three, alternating untraced and traced);
5. with ``--trace 0``, when the workload's set-up is cheap enough to
   repeat (``SETUP_REPEATS`` in ``workloads.py``), starts more processes
   that only set it up, one after the other, and reports the median of
   the set-up times, this process's included, as ``setup_s``.

Every timing but ``setup_s`` is scaled to a nominal host speed, so
that the drift of a shared host's speed cancels out: an op's wall time
is multiplied by a reference loop's nominal time over its time sampled
around the op (``plan_sweep``) or over the run (the Spark workloads);
see ``hostspeed.py``.  A pass's time is the sum of its ops' times.  The
wall-clock times are in the ``# meta`` line.

An op that runs longer than ``OP_TIMEOUT_S`` is cancelled (its Spark
jobs and streams, or the planner call) and counts as failed.

With ``--trace 0`` the result carries the end-to-end metrics; with
``--trace 1`` the per-layer metrics, taken from the traced passes, plus
the tracing overhead.  The last stdout line is the JSON result; the line
before it, starting with ``# meta``, records the machine and versions.
A traced run also writes its spans to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from pathlib import Path

OP_TIMEOUT_S = 60.0  # an op still running after this is cancelled and fails
WARM_DEADLINE_S = 130.0  # no new warm pass after this much run time
MAX_DRIVER_MEM_MB = 2048


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    stat = Path("/proc/self/stat").read_text()
    start_ticks = int(stat.rsplit(")", 1)[1].split()[19])
    uptime = float(Path("/proc/uptime").read_text().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def driver_mem_mb() -> int:
    """A quarter of the machine's memory, capped."""
    for line in Path("/proc/meminfo").read_text().splitlines():
        if line.startswith("MemTotal:"):
            return min(MAX_DRIVER_MEM_MB, int(line.split()[1]) // 4096)
    return 1024


def git_sha(root: Path) -> str:
    head = root / ".git" / "HEAD"
    if not head.is_file():
        return "unknown"
    ref = head.read_text().strip()
    if not ref.startswith("ref: "):
        return ref
    path = root / ".git" / ref[5:]
    if path.is_file():
        return path.read_text().strip()
    packed = root / ".git" / "packed-refs"
    if packed.is_file():
        for line in packed.read_text().splitlines():
            if line.endswith(" " + ref[5:]):
                return line.split()[0]
    return "unknown"


class Context:
    """What a workload needs from the run: paths, the tracer and a way to
    start a SparkSession confined to the run's directory."""

    def __init__(self, root: Path, work: Path, tracer) -> None:
        self.root = root
        self.work = work
        self.data_dir = str(work / "data")
        self.store = work / "warehouse"
        self.tracer = tracer
        self.cpus = len(os.sched_getaffinity(0))
        self.driver_mem = f"{driver_mem_mb()}m"
        self._n = 0

    def scratch(self, name: str) -> Path:
        self._n += 1
        return self.work / "tmp" / f"{name}{self._n}"

    def environ(self) -> None:
        tmp = self.work / "tmp"
        for d in (tmp, self.work / "spark-local", self.store):
            d.mkdir(parents=True, exist_ok=True)
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cpus)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = self.driver_mem
        os.environ["SPARK_LOCAL_DIRS"] = str(self.work / "spark-local")
        os.environ["TMPDIR"] = str(tmp)
        os.environ["PYSPARK_PYTHON"] = sys.executable
        # Python workers import the package by name
        path = os.environ.get("PYTHONPATH")
        os.environ["PYTHONPATH"] = str(self.root) + (os.pathsep + path if path else "")
        os.environ.setdefault("PYTHONWARNINGS", "ignore::FutureWarning")

    def confine_store(self) -> None:
        """Point the package's store root at this run's directory."""
        from query_optimizer_spark import sources

        sources.DEFAULT_WAREHOUSE = str(self.store)

    def new_session(self):
        """``session.get_session`` with the warehouse and the JVM's temp
        directory moved under this run's directory."""
        from query_optimizer_spark import session

        base = session._base_builder
        # a fixed-size heap keeps the JVM's resident set from following
        # the collector's timing-driven heap resizing; no perf-data file
        # in the system temp directory
        java_opts = (f"-Djava.io.tmpdir={self.work / 'tmp'} "
                     f"-Xms{self.driver_mem} -XX:-UsePerfData")

        def confined(app, cpus=None):
            return (
                base(app, cpus)
                .config("spark.sql.warehouse.dir", str(self.store / "spark"))
                .config("spark.driver.extraJavaOptions", java_opts)
            )

        session._base_builder = confined
        try:
            return session.get_session("perfbench", profile="default", cpus=self.cpus)
        finally:
            session._base_builder = base


def stop_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - already gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - did not exit: make it
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---- passes ------------------------------------------------------------
class Recorder:
    def __init__(self, wl, ctx, seed: int) -> None:
        self.wl = wl
        self.ctx = ctx
        self.seed = seed
        self.passes: list[dict] = []
        self.attempted = 0
        self.failures: dict[str, str] = {}

    def _expire(self, expired: threading.Event) -> None:
        expired.set()
        print("perfbench: op timed out, cancelling it", file=sys.stderr, flush=True)
        self.wl.cancel()

    def run_pass(self, traced: bool, keep: bool = False) -> dict:
        """One pass over every op in a seeded order.  A traced pass
        patches the package's layer boundaries for its duration only, so
        untraced passes run the unpatched code."""
        import hostspeed
        from layers import install

        tracer = self.ctx.tracer
        idx = len(self.passes)
        order = self.wl.op_ids()
        random.Random(f"{self.seed}:{idx}").shuffle(order)
        rec = {"idx": idx, "traced": traced, "ops": [], "results": {}}
        counts0, times0 = dict(tracer.counts), dict(tracer.times)
        if traced:
            install(tracer)
        tracer.enabled = traced
        rec["start"] = time.perf_counter()
        rec["probes"] = [hostspeed.probe()]
        for op in order:
            tracer.op = f"{idx}:{op}"
            self.attempted += 1
            expired = threading.Event()
            timer = threading.Timer(OP_TIMEOUT_S, self._expire, (expired,))
            t0 = time.perf_counter()
            timer.start()
            try:
                with tracer.span("op"):
                    res = self.wl.run_op(op)
                dt = time.perf_counter() - t0
                if expired.is_set():
                    raise TimeoutError
            except Exception as e:  # noqa: BLE001 - count and go on
                if expired.is_set():
                    e = TimeoutError(f"{op} cancelled after {OP_TIMEOUT_S:.0f} s")
                else:
                    traceback.print_exc()
                self.failures[f"{idx}:{op}"] = f"{type(e).__name__}: {e}"
                res, dt = None, time.perf_counter() - t0
            finally:
                timer.cancel()
                timer.join()
            tracer.enabled = False
            rec["probes"].append(hostspeed.probe())
            extra = self.wl.after_op(op, res, traced) if res is not None else {}
            tracer.enabled = traced
            rec["ops"].append({"op": op, "s": dt, "ok": res is not None, **extra})
            if keep and res is not None:
                rec["results"][op] = res
        rec["end"] = time.perf_counter()
        tracer.enabled = False
        tracer.op = None
        tracer.restore()
        rec["wall"] = rec["end"] - rec["start"]
        rec["counts"] = {k: v - counts0.get(k, 0) for k, v in tracer.counts.items()}
        rec["times"] = {k: v - times0.get(k, 0.0) for k, v in tracer.times.items()}
        self.passes.append(rec)
        print(f"perfbench: pass {idx} traced={traced} wall={rec['wall']:.3f}s",
              file=sys.stderr, flush=True)
        return rec

    def scale(self) -> None:
        """Each op's and pass's time ``t`` at the nominal host speed, from
        the samples around the op or from all of the run's."""
        import hostspeed

        run_probes = [r for p in self.passes for r in p["probes"]]
        for p in self.passes:
            walls = [o["s"] for o in p["ops"]]
            if self.wl.SPEED_SAMPLES == "op":
                times = hostspeed.scaled(walls, p["probes"])
            else:
                times = hostspeed.scaled(walls, run_probes, local=False)
            for o, t in zip(p["ops"], times):
                o["t"] = t
            p["t"] = sum(times)


def quantile(values: list[float], q: int) -> float:
    """The q-th percentile, interpolated between samples (never beyond
    the largest, which matters for the Spark workloads' few samples)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def end_to_end(rec: Recorder, setups: list[float], quality: dict, rss: dict) -> dict:
    cold, warm = rec.passes[0], rec.passes[1:]
    samples = [o["t"] for p in warm for o in p["ops"] if o["ok"]]
    return {
        "setup_s": (statistics.median(setups), "s"),
        "cold_pass_s": (cold["t"], "s"),
        "warm_pass_s": (statistics.median(p["t"] for p in warm), "s"),
        "op_p50_s": (statistics.median(samples), "s"),
        "op_p90_s": (quantile(samples, 90), "s"),
        "plan_cost_ratio_gmean": (quality["plan_cost_ratio_gmean"], "ratio"),
        "peak_rss_mb": (sum(rss.values()), "MB"),
    }


def per_layer(rec: Recorder, quality: dict, store: dict) -> dict:
    from layers import FAMILIES, PLANNER_NAMES
    from spans import outermost_total, uncovered

    cold = rec.passes[0]
    traced, warm_spans = traced_warm(rec)
    plain = [p for p in rec.passes[1:] if not p["traced"]]
    n = len(traced)

    def span_s(name):
        return outermost_total(warm_spans, name) / n

    def count(name):
        return sum(p["counts"].get(name, 0) for p in traced) / n

    def secs(name):
        return sum(p["times"].get(name, 0.0) for p in traced) / n

    def op_sum(key):
        return sum(o.get(key, 0.0) for p in traced for o in p["ops"]) / n

    m: dict[str, tuple[float, str]] = {}
    for p in PLANNER_NAMES:
        m[f"planners.{p}.plan_s"] = (span_s(f"planners.{p}"), "s")
        m[f"planners.{p}.cost_ratio_gmean"] = (
            quality.get(f"planners.{p}.cost_ratio_gmean", 0.0), "ratio")
    m["frontend.s"] = (span_s("frontend"), "s")
    m["joingraph.key_for_calls"] = (count("joingraph.key_for"), "count")
    m["oracle.card_calls"] = (count("oracle.card"), "count")
    m["oracle.card_s"] = (secs("oracle.card"), "s")
    m["oracle.build_s"] = (span_s("oracle.build"), "s")
    m["costmodels.cumulative_calls"] = (count("costmodels.cumulative"), "count")
    m["costmodels.cumulative_s"] = (secs("costmodels.cumulative"), "s")
    m["costmodels.node_cost_calls"] = (count("costmodels.node_cost"), "count")
    m["env.step_calls"] = (count("env.step"), "count")
    m["env.step_s"] = (secs("env.step"), "s")
    m["env.state_s"] = (secs("env.state"), "s")
    train_s = span_s("agents.train")
    m["agents.train_s"] = (train_s, "s")
    m["agents.episodes_per_s"] = (
        count("agents.episodes") / train_s if train_s > 0 else 0.0, "1/s")
    m["construct_s"] = (span_s("construct"), "s")
    m["execute_s"] = (span_s("execute"), "s")
    m["executor.render_s"] = (span_s("executor.render"), "s")
    m["workload.adaptive_s"] = (span_s("workload.adaptive"), "s")
    m["park.round_trips"] = (count("park.rtt"), "count")
    m["park.rtt_s"] = (secs("park.rtt"), "s")
    m["spark.jobs_construct"] = (op_sum("spark.jobs_construct"), "count")
    for k, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                    ("executor_run_s", "s"), ("executor_cpu_s", "s"),
                    ("gc_s", "s"), ("shuffle_read_mb", "MB"),
                    ("shuffle_write_mb", "MB"), ("spill_mb", "MB")):
        m[f"spark.{k}"] = (op_sum(f"spark.{k}"), unit)
    m["spark.max_task_s"] = (max((o.get("spark.max_task_s", 0.0)
                                  for p in traced for o in p["ops"]), default=0.0), "s")
    wall = sum(p["wall"] for p in traced) / n
    m["spark.busy_frac"] = (
        m["spark.executor_run_s"][0] / (rec.ctx.cpus * wall) if wall else 0.0, "ratio")
    m["spark.s_per_job"] = (job_slope(traced), "s")
    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_s"] = (op_sum(f"catalyst.{phase}_s"), "s")
    def family_s(p, fam):
        return sum(o["s"] for o in p["ops"] if o["op"].split("_")[0] == fam)

    for fam in FAMILIES:
        m[f"functions.{fam}.warm_s"] = (
            statistics.median(family_s(p, fam) for p in plain), "s")
        m[f"functions.{fam}.cold_s"] = (family_s(cold, fam), "s")
    m["sources.store_mb_written"] = (store["mb"], "MB")
    m["sources.store_entries"] = (store["entries"], "count")
    m["failed_frac"] = (len(rec.failures) / rec.attempted, "ratio")
    m["trace.spans"] = (len(warm_spans) / n, "count")
    # time inside each root "op" span that no layer span covers; the
    # reference-loop probes between ops are the benchmark's own
    layer_spans = [s for s in warm_spans if s.name != "op"]
    m["trace.uncovered_s"] = (sum(
        uncovered(layer_spans, s.start, s.end) for s in warm_spans if s.name == "op"
    ) / n, "s")
    m["host.ref_loop_ms"] = (
        1e3 * statistics.median(r for p in rec.passes[1:] for r in p["probes"]), "ms")
    m["warm_pass_wall_s"] = (
        statistics.median(sum(o["s"] for o in p["ops"]) for p in plain), "s")
    m["trace.overhead_s"] = (
        statistics.median(p["wall"] for p in traced)
        - statistics.median(p["wall"] for p in plain), "s")
    return m


def job_slope(passes: list[dict]) -> float:
    """Least-squares seconds per Spark job over the traced ops."""
    ops = [o for p in passes for o in p["ops"] if o["ok"]]
    jobs = [o.get("spark.jobs", 0.0) for o in ops]
    if len(set(jobs)) < 2:
        return 0.0
    return statistics.linear_regression(jobs, [o["s"] for o in ops]).slope


def traced_warm(rec: Recorder) -> tuple[list[dict], list]:
    """The traced warm passes and the spans recorded during them."""
    traced = [p for p in rec.passes[1:] if p["traced"]]
    ids = {str(p["idx"]) for p in traced}
    spans = [s for s in rec.ctx.tracer.spans if s.op and s.op.split(":", 1)[0] in ids]
    return traced, spans


def self_time_by_layer(rec: Recorder) -> dict[str, float]:
    """Self time per span name, per traced warm pass."""
    from spans import self_times

    traced, spans = traced_warm(rec)
    own = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + own[s.id] / len(traced)
    return out


# ---- main --------------------------------------------------------------
def fresh_setup_s(args) -> float:
    """Set-up time of a new process that sets the workload up and exits:
    from just before it is started until it reports ready."""
    spawned = time.time()
    proc = subprocess.run(
        [sys.executable, str(Path(__file__).resolve()), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", "0", "--setup-only"],
        capture_output=True, text=True, timeout=150, check=True,
    )
    return float(proc.stdout.split()[-1]) - spawned


def setup_only(args, ctx) -> float:
    """Set the workload up as a measured run does (same imports, no data
    generation); return the wall-clock time at which it is ready."""
    import datagen  # noqa: F401 - a measured run imports it before set-up
    import workloads

    ctx.confine_store()
    wl = workloads.make(args.workload, ctx)
    try:
        wl.setup()
        return time.time()
    finally:
        wl.close()


def run(args, ctx) -> tuple[dict, dict]:
    import datagen
    import workloads
    from layers import peak_rss_mb, store_listing

    t0 = time.perf_counter()
    if args.workload != "plan_sweep":
        datagen.generate(ctx.data_dir, args.seed)
    datagen_s = time.perf_counter() - t0
    ctx.confine_store()
    before = store_listing(ctx.store)

    wl = workloads.make(args.workload, ctx)
    try:
        wl.setup()
        setups = [process_age_s() - datagen_s]

        rec = Recorder(wl, ctx, args.seed)
        cold = rec.run_pass(traced=bool(args.trace), keep=True)
        t0 = time.perf_counter()
        for op, err in wl.verify(cold["results"]).items():
            rec.failures[f"verify:{op}"] = err
            print(f"perfbench: {op} failed its check: {err}", file=sys.stderr)
        quality = wl.quality()
        cold["results"] = {}
        check_s = time.perf_counter() - t0

        # traced runs alternate untraced and traced warm passes and end on
        # an untraced one, so warm-up drift does not bias the overhead
        min_warm = 3 if args.trace else 1
        while True:
            rec.run_pass(traced=bool(args.trace) and len(rec.passes) % 2 == 0)
            measured = rec.passes[-1]["end"] - cold["start"]
            if (len(rec.passes) - 1 >= min_warm and not rec.passes[-1]["traced"] and (
                measured >= args.seconds or process_age_s() > WARM_DEADLINE_S
            )):
                break

        rec.scale()
        rss = peak_rss_mb()
        after = store_listing(ctx.store)
        created = {k: v for k, v in after.items() if before.get(k) != v}
        store = {"entries": float(len(created)), "mb": sum(created.values()) / (1 << 20)}
    finally:
        ctx.tracer.restore()
        wl.close()
        if "pyspark" in sys.modules:
            stop_jvm()
    if args.trace:
        metrics = per_layer(rec, quality, store)
    else:
        # the other set-ups run one at a time, each in a fresh process,
        # once this run's JVM has exited
        setups += [fresh_setup_s(args) for _ in range(wl.SETUP_REPEATS - 1)]
        metrics = end_to_end(rec, setups, quality, rss)
    meta = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.cpu_count(), "cpus": ctx.cpus,
        "driver_mem": ctx.driver_mem, "git_sha": git_sha(ctx.root),
        "python": sys.version.split()[0], "datagen_s": datagen_s,
        "setups_s": setups, "check_s": check_s, "run_s": process_age_s(),
        "peak_rss_mb": rss,
        "passes": [round(p["wall"], 4) for p in rec.passes],
        "passes_t": [round(p["t"], 4) for p in rec.passes],
        "ref_loop_ms": [round(1e3 * statistics.median(p["probes"]), 4) for p in rec.passes],
        "probes_ms": [[round(1e3 * r, 4) for r in p["probes"]] for p in rec.passes],
        "ops_s": {o["op"]: [round(q["s"], 4) for p in rec.passes for q in p["ops"]
                            if q["op"] == o["op"]] for o in rec.passes[0]["ops"]},
        "warm_samples": sum(len(p["ops"]) for p in rec.passes[1:]),
        "failures": rec.failures,
    }
    for mod in ("pyspark", "duckdb"):
        try:
            meta[mod] = __import__(mod).__version__
        except ImportError:
            meta[mod] = None
    if args.trace:
        meta["self_s"] = self_time_by_layer(rec)
        write_spans(ctx, args, rec)
    result = {
        "correct": not rec.failures,
        "attempted": rec.attempted,
        "failed": len(rec.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, meta


def write_spans(ctx, args, rec) -> None:
    out = ctx.root / ".perfbench_out"
    out.mkdir(exist_ok=True)
    path = out / f"{args.workload}-seed{args.seed}-spans.json"
    base = rec.passes[0]["start"]
    path.write_text(json.dumps([
        {"id": s.id, "name": s.name, "start": s.start - base, "end": s.end - base,
         "parent": s.parent, "op": s.op}
        for s in ctx.tracer.spans
    ]))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["plan_sweep", "join_exec", "pipeline_ops"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--setup-only", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = Path.cwd()
    if not (root / "query_optimizer_spark" / "__init__.py").is_file() or not (
        root / "__spark_entry__.py"
    ).is_file():
        print("perfbench: run from the repository root; the package "
              "query_optimizer_spark/ is not here", file=sys.stderr)
        return 2
    sys.path.insert(0, str(root))

    from spans import Tracer

    work = root / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    ctx = Context(root, work, Tracer())
    ctx.environ()
    try:
        if args.setup_only:
            print(repr(setup_only(args, ctx)))
            return 0
        result, meta = run(args, ctx)
    finally:
        if "pyspark" in sys.modules:
            stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass  # another run's directory is still there
    print("# meta " + json.dumps(meta, default=str))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
