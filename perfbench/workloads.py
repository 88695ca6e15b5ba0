"""The three workloads.  Each one is a closed loop: one client, one op at
a time, the next op only after the previous one has returned.

An op is the unit a user waits for: one planner call in ``plan_sweep``,
one query's construction plus materialisation in the Spark workloads.
"""

from __future__ import annotations

import hashlib
import math
import random
import signal
import threading

from layers import PLANNER_NAMES

# ---- plan_sweep -----------------------------------------------------------
# A fixed suite: shapes, sizes and cardinalities come from SUITE_SEED, and
# the run's seed orders the ops of each pass.  Over eight graphs the cost
# ratio geomean moved by about 7% of its median from one cardinality draw
# to the next, more than a regression bound can absorb, so the draw is
# held fixed and the quality metrics repeat exactly.  Five graphs keep a
# pass at 3.3-6.5 s on a 4-core VM, so a run of 15 s holds a cold pass and
# at least two warm ones, which give op_p90_s 148 or more samples.
SUITE_SEED = 2011
SWEEP_GRAPHS = [("chain", 8), ("star", 6), ("star", 10), ("cycle", 11), ("clique", 6)]
BNB_MAX_RELATIONS = 8
BNB_MAX_EDGES = 12  # branch_and_bound declines denser graphs
PERTURB_FACTOR = 8.0


class PlanSweep:
    """Cardinality sensitivity: every graph planned by the 8 deterministic
    planners under its true cardinalities and under a x8-perturbed copy;
    each plan re-costed under the truth and divided by dp_ccp's true
    optimum."""

    # set-up is imports and graph generation, well under a second: the
    # run repeats it in two more fresh processes for the median
    SETUP_REPEATS = 3
    # ops run on this thread, so the reference loop sampled around each
    # one tracks the host speed it ran at (see hostspeed.py)
    SPEED_SAMPLES = "op"

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.planning = False
        signal.signal(signal.SIGALRM, self._interrupt)

    def setup(self) -> None:
        """The graphs come from the generator the paper's agent training
        uses (``scripts/train_agent.py``), so the two cannot drift apart."""
        from query_optimizer_spark.costmodels import get_cost_model
        from scripts.train_agent import synth_graph

        self.cm = get_cost_model("cm1")
        rng = random.Random(SUITE_SEED)
        self.graphs = {}
        for kind, n in SWEEP_GRAPHS:
            graph, true = synth_graph(kind, n, rng)
            est = true.perturbed(seed=rng.randrange(1 << 30), max_factor=PERTURB_FACTOR)
            self.graphs[f"{kind}{n}"] = (graph, {"true": true, "est": est}, n, len(graph.edges))

    def op_ids(self) -> list[str]:
        ops = []
        for gid, (_, _, n, n_edges) in self.graphs.items():
            for rung in ("true", "est"):
                for p in PLANNER_NAMES:
                    if p == "branch_and_bound" and (
                        n > BNB_MAX_RELATIONS or n_edges > BNB_MAX_EDGES
                    ):
                        continue
                    ops.append(f"{gid}/{rung}/{p}")
        return ops

    def run_op(self, op: str):
        from query_optimizer_spark.planners import PLANNERS

        gid, rung, planner = op.split("/")
        graph, oracles, _, _ = self.graphs[gid]
        self.planning = True
        try:
            res = PLANNERS[planner](graph, oracles[rung], self.cm)
            if res is None:  # ikkbz declines cyclic graphs, like run_fixture
                res = PLANNERS["dp_ccp"](graph, oracles[rung], self.cm)
        finally:
            self.planning = False
        return res

    def _interrupt(self, signum, frame) -> None:
        # runs on the main thread, between two bytecodes of the planner
        if self.planning:
            raise TimeoutError("planner call interrupted")

    def cancel(self) -> None:
        """Stop the running planner call (called from a timer thread)."""
        signal.pthread_kill(threading.main_thread().ident, signal.SIGALRM)

    def after_op(self, op, result, traced) -> dict:
        return {}

    def verify(self, results: dict) -> dict[str, str]:
        """Tree invariants, ratio >= 1, and exact optima where the
        planner's search space contains the optimum."""
        from query_optimizer_spark.joingraph import validate_tree

        errors = {}
        self.ratios = {}
        for op, res in results.items():
            gid, rung, planner = op.split("/")
            graph, oracles, _, _ = self.graphs[gid]
            true = oracles["true"]
            try:
                validate_tree(graph, res.tree)
                opt_op = f"{gid}/true/dp_ccp"
                opt = self.cm.cumulative(graph, results[opt_op].tree, true)
                ratio = self.cm.cumulative(graph, res.tree, true) / opt
            except Exception as e:  # noqa: BLE001 - report, keep checking
                errors[op] = f"{type(e).__name__}: {e}"
                continue
            self.ratios[op] = ratio
            exact = rung == "true" and planner in ("dp_ccp", "branch_and_bound")
            if ratio < 1.0 - 1e-9:
                errors[op] = f"cost ratio {ratio} below 1"
            elif exact and abs(ratio - 1.0) > 1e-9:
                errors[op] = f"{planner} missed the true optimum: ratio {ratio}"
        return errors

    def quality(self) -> dict[str, float]:
        """Geomean cost ratio overall and per planner."""
        def gmean(vals):
            return math.exp(sum(math.log(v) for v in vals) / len(vals)) if vals else 0.0

        out = {"plan_cost_ratio_gmean": gmean(list(self.ratios.values()))}
        for p in PLANNER_NAMES:
            out[f"planners.{p}.cost_ratio_gmean"] = gmean(
                [r for op, r in self.ratios.items() if op.endswith("/" + p)]
            )
        return out

    def close(self) -> None:
        pass


# ---- Spark workloads ------------------------------------------------------
JOIN_EXEC_OPS = [
    "join_outer_removed",    # greedy order, true-count oracle, join removal
    "join_sampled_card",     # dp_ccp under the sampled-count oracle
    "join_env_wire",         # agent plans over the park wire protocol
    "join_adaptive_full",    # LEO loop: re-plan after every join
    "sql_q5_local_revenue",  # TPC-H Q5, join order left to Catalyst
]

PIPELINE_OPS = [
    "dedup_minhash_lsh",
    "corpus_boilerplate",
    "text_token_count",
    "sim_bruteforce_topk",
    "emb_norm_stats",
    "evt_incremental_rollup",  # writes the rollup store
    "io_partitioned_roundtrip",  # writes a partitioned store, reads it pruned
    "stream_asof_join",
    "skew_hotkey_hybrid",
    "mm_image_decode",
]

TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()


def duck_hash(con, sql: str) -> tuple[int, str]:
    """(rows, order-insensitive hash) of a DuckDB result, canonicalised
    exactly like the package's ``harness.result_hash``."""
    from query_optimizer_spark.harness import _canon

    pdf = con.execute(sql).fetchdf()
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    acc = 0
    for row in pdf.itertuples(index=False, name=None):
        s = "|".join(_canon(v) for v in row)
        acc = (acc + int.from_bytes(hashlib.md5(s.encode()).digest(), "big")) % (1 << 128)
    return len(pdf), f"{acc:032x}"


class SparkWorkload:
    """Runs ``__spark_entry__.queries()`` entries; each op is the query
    call plus a ``noop``-sink write of the DataFrame it returns."""

    # set-up starts a JVM and a SparkSession, about 8-11 s on 4 cores; a
    # second fresh process per run would not fit the runs' time budget
    SETUP_REPEATS = 1
    # the ops run in the JVM on every core, and a sample on this thread
    # next to one is noisy: the run's median sample is the host's speed
    # (see hostspeed.py)
    SPEED_SAMPLES = "run"

    def __init__(self, ops: list[str], ctx) -> None:
        self.ops = ops
        self.ctx = ctx
        self.spark = None
        self.group = 0

    def setup(self) -> None:
        import __spark_entry__ as entry

        if self.spark is not None:
            self.spark.stop()
        self.spark = self.ctx.new_session()
        self.queries = entry.queries()
        self.oracle_sql = entry.oracle_sql()

    def op_ids(self) -> list[str]:
        return list(self.ops)

    def _materialize(self, df) -> None:
        if df.isStreaming:
            q = (
                df.writeStream.format("noop")
                .option("checkpointLocation", str(self.ctx.scratch("ckpt")))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        else:
            df.write.format("noop").mode("overwrite").save()

    def run_op(self, op: str):
        """Jobs run under one job group while the query is built and
        another while it is materialised, so the traced run can read
        their metrics apart and a timeout can cancel them."""
        tracer = self.ctx.tracer
        sc = self.spark.sparkContext
        self.group += 1
        sc.setJobGroup(f"pb{self.group}c", op)
        try:
            with tracer.span("construct"):
                df = self.queries[op](self.spark, self.ctx.data_dir)
            sc.setJobGroup(f"pb{self.group}x", op)
            with tracer.span("execute"):
                self._materialize(df)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return df

    def cancel(self) -> None:
        """Cancel the running op's jobs and streams (called from a timer
        thread); the op then fails on the main thread."""
        jsc = self.spark.sparkContext._jsc.sc()
        for phase in "cx":  # jobs the op starts later are cancelled too
            jsc.cancelJobGroupAndFutureJobs(f"pb{self.group}{phase}")
        for q in self.spark.streams.active:
            q.stop()

    def after_op(self, op, df, traced) -> dict:
        """Spark and Catalyst metrics of the op just run (traced only)."""
        if not traced or df is None:
            return {}
        from layers import catalyst_phases, spark_group_metrics

        cons = spark_group_metrics(self.spark, f"pb{self.group}c")
        exe = spark_group_metrics(self.spark, f"pb{self.group}x")
        out = {f"spark.{k}": cons[k] + exe[k] for k in cons}
        out["spark.max_task_s"] = max(cons["max_task_s"], exe["max_task_s"])
        out["spark.jobs_construct"] = cons["jobs"]
        if not df.isStreaming:
            for phase, sec in catalyst_phases(df).items():
                out[f"catalyst.{phase}_s"] = sec
        return out

    def verify(self, results: dict) -> dict[str, str]:
        """Every op's result hash against its DuckDB twin."""
        import duckdb

        # results here are small: hash them on the driver, which spares
        # the Python-worker start of the distributed hash
        from query_optimizer_spark.harness import _result_hash_local as result_hash

        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{self.ctx.data_dir}/{t}.parquet')"
            )
        errors = {}
        for op, df in results.items():
            try:
                got = result_hash(df)
                want = duck_hash(con, self.oracle_sql[op])
            except Exception as e:  # noqa: BLE001 - report, keep checking
                errors[op] = f"{type(e).__name__}: {e}"
                continue
            if got != want:
                errors[op] = f"hash mismatch: spark {got} duckdb {want}"
        con.close()
        return errors

    def quality(self) -> dict[str, float]:
        """Cost of each executed fixture's plan over the optimum.  The
        fixtures plan under estimates; the ratio re-costs that plan under
        DuckDB-counted true cardinalities and divides by dp_ccp's plan
        under those true cardinalities."""
        from query_optimizer_spark import workload
        from query_optimizer_spark.costmodels import get_cost_model
        from query_optimizer_spark.planners import PLANNERS

        cm = get_cost_model("cm1")
        fixtures = {
            "join_outer_removed": ("join_outer_removed", "greedy", workload.true_oracle),
            "join_sampled_card": ("join_cycle_7", "dp_ccp",
                                  lambda d: workload.sampled_oracle(d, p=0.2)),
        }
        logs = []
        for op, (fixture, planner, make_oracle) in fixtures.items():
            if op not in self.ops:
                continue
            graph, _, res = workload.plan_fixture(
                self.ctx.data_dir, fixture, planner=planner,
                oracle=make_oracle(self.ctx.data_dir),
            )
            true = workload.true_oracle(self.ctx.data_dir)
            opt = PLANNERS["dp_ccp"](graph, true, cm).tree
            logs.append(math.log(cm.cumulative(graph, res.tree, true)
                                 / cm.cumulative(graph, opt, true)))
        # an op list with no planner choice has only optimal plans
        gmean = math.exp(sum(logs) / len(logs)) if logs else 1.0
        return {"plan_cost_ratio_gmean": gmean}

    def close(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


def make(name: str, ctx):
    if name == "plan_sweep":
        return PlanSweep(ctx)
    if name == "join_exec":
        return SparkWorkload(JOIN_EXEC_OPS, ctx)
    if name == "pipeline_ops":
        return SparkWorkload(PIPELINE_OPS, ctx)
    raise SystemExit(f"unknown workload {name!r}")
