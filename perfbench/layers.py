"""Per-layer instrumentation: which package entry points get a span or a
counter, and how Spark's own status APIs are read per op."""

from __future__ import annotations

import inspect
import os
from pathlib import Path

from spans import Tracer

PLANNER_NAMES = [
    "greedy",
    "left_deep",
    "bushy",
    "branch_and_bound",
    "dp_ccp",
    "ikkbz",
    "reinforce",
    "reinforce_pretrained",
]

FAMILIES = ["dedup", "sim", "text", "corpus", "evt", "emb", "io", "mm", "skew", "stream"]


def install(tracer: Tracer) -> None:
    """Patch the package's layer boundaries.  Registry entries and class
    attributes are replaced; names other modules bound at import time
    are left alone."""
    from query_optimizer_spark import agents, costmodels, env, executor, oracle
    from query_optimizer_spark import park_server, planners, rewrites, sqlparse, workload
    from query_optimizer_spark.joingraph import JoinGraph

    for name in PLANNER_NAMES:
        tracer.patch(planners.PLANNERS, name,
                     lambda f, n=name: tracer.spanned(f"planners.{n}", f))

    # per-call hot paths: counters (outermost call only), not spans
    tracer.patch(JoinGraph, "key_for",
                 lambda f: tracer.counted("joingraph.key_for", f))
    for cls in (oracle.CardinalityOracle, oracle.TrueCountOracle,
                oracle.SparkStatsOracle, oracle.SketchOracle,
                oracle.OverlayOracle):
        tracer.patch(cls, "card",
                     lambda f: tracer.counted("oracle.card", f, timed=True))
    tracer.patch(costmodels.CostModel, "cumulative",
                 lambda f: tracer.counted("costmodels.cumulative", f, timed=True))
    tracer.patch(costmodels.CostModel, "node_cost",
                 lambda f: tracer.counted("costmodels.node_cost", f))
    tracer.patch(env.JoinOrderEnv, "step",
                 lambda f: tracer.counted("env.step", f, timed=True))
    tracer.patch(env.JoinOrderEnv, "state",
                 lambda f: tracer.counted("env.state", f, timed=True))

    def train(f):
        wrapped = tracer.spanned("agents.train", f)
        sig = inspect.signature(f)

        def call(*args, **kwargs):
            if tracer.enabled:
                bound = sig.bind(*args, **kwargs)
                bound.apply_defaults()
                tracer.add("agents.episodes", bound.arguments["episodes"])
            return wrapped(*args, **kwargs)

        return call

    tracer.patch(agents, "train_reinforce", train)

    # cardinality oracles that scan data: construction and counting
    for cls in (oracle.TrueCountOracle, oracle.SampledCountOracle, oracle.SketchOracle):
        tracer.patch(cls, "__init__", lambda f: tracer.spanned("oracle.build", f))
    for cls in (oracle.TrueCountOracle, oracle.SampledCountOracle):
        tracer.patch(cls, "_count", lambda f: tracer.spanned("oracle.build", f))

    # front end: SQL -> rewritten join graph
    tracer.patch(sqlparse, "parse", lambda f: tracer.spanned("frontend", f))
    tracer.patch(rewrites, "simplify", lambda f: tracer.spanned("frontend", f))
    tracer.patch(JoinGraph, "from_query",
                 lambda f: classmethod(tracer.spanned("frontend", f.__func__)))
    tracer.patch(executor.Renderer, "run",
                 lambda f: tracer.spanned("executor.render", f))
    tracer.patch(park_server.ParkClient, "_cmd",
                 lambda f: tracer.counted("park.rtt", f, timed=True))
    for name in ("run_fixture_adaptive", "run_fixture_adaptive_full", "run_fixture_warm"):
        tracer.patch(workload, name,
                     lambda f: tracer.spanned("workload.adaptive", f))


# ---- Spark status APIs ----------------------------------------------------
SPARK_KEYS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
              "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
              "max_task_s")


def spark_group_metrics(spark, group: str) -> dict[str, float]:
    """Job, stage and task metrics of every job run under job group
    ``group``, read from the status tracker and the status store."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(SPARK_KEYS, 0.0)
    job_ids = tracker.getJobIdsForGroup(group)
    out["jobs"] = float(len(job_ids))
    stage_ids: set[int] = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    gw = sc._gateway
    q = gw.new_array(gw.jvm.double, 1)
    q[0] = 1.0
    mb = 1.0 / (1 << 20)
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 - stage evicted or never run
            continue
        if st.numCompleteTasks() == 0:
            continue  # skipped stage: its output was reused
        out["stages"] += 1
        out["tasks"] += st.numCompleteTasks()
        out["executor_run_s"] += st.executorRunTime() / 1e3
        out["executor_cpu_s"] += st.executorCpuTime() / 1e9
        out["gc_s"] += st.jvmGcTime() / 1e3
        out["shuffle_read_mb"] += (st.shuffleRemoteBytesRead() + st.shuffleLocalBytesRead()) * mb
        out["shuffle_write_mb"] += st.shuffleWriteBytes() * mb
        out["spill_mb"] += st.diskBytesSpilled() * mb
        summary = store.taskSummary(sid, st.attemptId(), q)
        if summary.isDefined():
            out["max_task_s"] = max(
                out["max_task_s"], summary.get().executorRunTime().apply(0) / 1e3
            )
    return out


def catalyst_phases(df) -> dict[str, float]:
    """Seconds Catalyst spent analysing, optimising and planning ``df``'s
    own query (forces planning when the action ran a derived plan)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[phase] = opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0
    return out


# ---- process tree memory ------------------------------------------------
def _children(pid: int) -> list[int]:
    kids = []
    for task in Path(f"/proc/{pid}/task").glob("*"):
        try:
            kids += [int(c) for c in (task / "children").read_text().split()]
        except OSError:
            pass
    return kids


def peak_rss_mb() -> dict[str, float]:
    """Peak resident set (VmHWM) in MB of this process and every live
    descendant (the driver, the JVM and the Python workers), summed per
    command name."""
    out: dict[str, float] = {}
    todo = [os.getpid()]
    while todo:
        pid = todo.pop()
        try:
            status = Path(f"/proc/{pid}/status").read_text().splitlines()
        except OSError:
            continue
        fields = dict(line.split(":", 1) for line in status if ":" in line)
        name = fields["Name"].strip()
        out[name] = out.get(name, 0.0) + int(fields.get("VmHWM", "0 kB").split()[0]) / 1024.0
        todo += _children(pid)
    return out


# ---- store state --------------------------------------------------------
def store_listing(root: Path) -> dict[str, int]:
    """Top-level entry -> bytes under it."""
    out = {}
    if not root.exists():
        return out
    for entry in root.iterdir():
        files = [entry] if entry.is_file() else [p for p in entry.rglob("*") if p.is_file()]
        out[entry.name] = sum(p.stat().st_size for p in files)
    return out
