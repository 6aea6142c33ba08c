"""The benchmark's workloads. Each is a closed loop with one client: the
client issues one operation, waits for it, then issues the next.

- ``fpl_season``: the paper's pipeline on a seeded season. One pass is
  ``etl.run.run`` (ingest -> transform -> quality -> parquet write), the
  model-matrix build, and a logistic-regression fit and evaluation. The
  pass runs once per process, cold, the way the batch job runs.
- ``query_mix``: registry queries from three families (JVM-only relational
  and window queries, a capped-LSH dedup query, Arrow Python-stage
  queries), each run as plan build (``Query.fn``), execute (collect) and
  operator cache release, in an order the seed permutes. Each collected
  result is compared, outside the timed pass, with the query's DuckDB
  oracle by ``tools/check_parity.py``'s rules.

Both workloads measure one pass in a fresh JVM: on a 4-core host one
process start costs about 10 s and the first pass about twice a warm one,
so a warm-up pass per run would not fit the benchmark's run-time budget.
"""

from __future__ import annotations

import os
import random
from contextlib import contextmanager
from dataclasses import dataclass

import season as season_gen
import tables


@dataclass
class Op:
    name: str
    seconds: float
    failed: bool = False
    checked: bool = False
    correct: bool = False
    detail: str = ""


@dataclass
class Context:
    spark: object
    tracer: object
    work: str
    on_op: object = None  # traced runs: callable(span, "start" | "end") around each op


def _timed_op(ctx: Context, name: str, pass_id: str, body, **attrs) -> Op:
    """Run ``body(span)`` as one operation; an exception fails the op."""
    with ctx.tracer.span(name, pass_id, **attrs) as sp:
        if ctx.on_op is not None:
            ctx.on_op(sp, "start")
        try:
            body(sp)
            failed, detail = False, ""
        except Exception as e:  # noqa: BLE001 - a failed op is a measured outcome
            failed, detail = True, f"{type(e).__name__}: {str(e)[:300]}"
        if ctx.on_op is not None:
            ctx.on_op(sp, "end")
    sp.attrs["failed"] = failed
    return Op(attrs.get("query", name), sp.seconds, failed=failed, detail=detail)


# --------------------------------------------------------------------------
# fpl_season
# --------------------------------------------------------------------------

#: the season is 20 teams x 38 gameweeks; players per team and the fit's
#: iteration cap keep one cold pass within the run-time budget
PLAYERS_PER_TEAM = 10
LR_MAX_ITER = 5
LABEL = "target_played"
#: the catalog tables ``build_model_matrix`` reads
MODEL_TABLES = ("players_full", "teams", "team_results", "gameweeks", "fixtures")


def _feature_columns(dtypes: list[tuple[str, str]]) -> list[str]:
    numeric = ("int", "bigint", "double", "float", "smallint", "tinyint")
    extra = {"diff_strength", "fixture_difficulty", "days_into_gameweek", "days_since_last",
             "transfers_in_share", "selected_share", "previous_points_decile",
             "kickoff_datetime_hour", "kickoff_datetime_weekday",
             "kickoff_datetime_tod_sin", "kickoff_datetime_tod_cos"}
    return [c for c, t in dtypes
            if t in numeric and (c.startswith(("previous_", "own_", "opp_")) or c in extra)]


@contextmanager
def _wrapped_etl_layers(tracer, pass_id: str):
    """Wrap the ingest / transform / quality functions ``etl.run.run`` calls
    in spans, from outside the program; restore them on exit."""
    from fantasy_premier_league_spark.etl import ingest, quality, transform

    targets = [(ingest, "read_fixtures_json", "etl.ingest"), (ingest, "read_main_json", "etl.ingest"),
               (ingest, "read_players_json", "etl.ingest"), (transform, "build_all", "etl.transform"),
               (quality, "run_catalog_checks", "etl.quality")]
    saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in targets]

    def wrap(fn, span_name):
        def inner(*args, **kwargs):
            with tracer.span(span_name, pass_id, fn=fn.__name__):
                return fn(*args, **kwargs)
        return inner

    for (mod, attr, fn), (_, _, span_name) in zip(saved, targets):
        setattr(mod, attr, wrap(fn, span_name))
    try:
        yield
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)


class FplSeason:
    name = "fpl_season"

    def prepare(self, work: str, seed: int) -> None:
        self.season = season_gen.generate(seed, players_per_team=PLAYERS_PER_TEAM)
        self.input_dir = os.path.join(work, "season")
        self.season.write(self.input_dir)

    def warmup(self, ctx: Context) -> None:
        """None: the pass is measured cold, as the batch job runs."""

    def run_pass(self, ctx: Context, pass_id: str) -> list[Op]:
        from pyspark.sql import functions as F

        from fantasy_premier_league_spark.etl import features, run as etl_run
        from fantasy_premier_league_spark.ml import pipeline, splits

        spark = ctx.spark
        out_dir = os.path.join(ctx.work, f"catalog-{pass_id}")
        state: dict = {}

        def etl(sp):
            with _wrapped_etl_layers(ctx.tracer, pass_id):
                state["counts"] = etl_run.run(self.input_dir, out_dir, spark=spark)

        def build(sp):
            catalog = {t: spark.read.parquet(os.path.join(out_dir, t)) for t in MODEL_TABLES}
            mm = features.build_model_matrix(catalog)
            cols = _feature_columns(mm.dtypes)
            mm = mm.fillna(0, subset=cols).cache()
            state.update(mm=mm, cols=cols, rows=mm.count())

        def fit(sp):
            with ctx.tracer.span("ml.split", pass_id):
                train, test = splits.entity_train_test_split(state["mm"], entity="player_id", test_fraction=0.25)
                train = pipeline.add_balanced_weights(train, label=LABEL).cache()
            pipe = pipeline.make_classifier_pipeline(feature_cols=state["cols"], label=LABEL)
            pipe.getStages()[-1].setMaxIter(LR_MAX_ITER)
            state.update(model=pipe.fit(train), test=test)
            train.unpersist()

        def evaluate(sp):
            preds = state["model"].transform(state["test"].withColumn("weight", F.lit(1.0)))
            state["metrics"] = pipeline.evaluate_binary(preds, label=LABEL)
            sp.attrs["roc_auc"] = state["metrics"]["roc_auc"]

        ops = [_timed_op(ctx, "etl.run", pass_id, etl)]
        for name, body in (("features.build", build), ("ml.fit", fit), ("ml.eval", evaluate)):
            ops.append(_timed_op(ctx, name, pass_id, body) if not ops[-1].failed
                       else Op(name, 0.0, failed=True, detail=f"skipped: {ops[-1].name} failed"))
        self._last = (ops, state, out_dir)
        return ops

    def after_pass(self, ctx: Context) -> None:
        ops, state, out_dir = self._last
        self._check(ctx.spark, ops, state, out_dir)
        if "mm" in state:
            state["mm"].unpersist()

    def _check(self, spark, ops: list[Op], state: dict, out_dir: str) -> None:
        """Untimed: compare the pass's outputs with the generator's values."""
        etl_op, feat_op = ops[0], ops[1]
        if not etl_op.failed:
            problems = [f"{t}: {state['counts'].get(t)} rows, expected {n}"
                        for t, n in self.season.expected_counts.items() if state["counts"].get(t) != n]
            table = [r.asDict() for r in spark.read.parquet(os.path.join(out_dir, "league_table")).collect()]
            problems += season_gen.check_league_table(table, self.season)
            etl_op.checked, etl_op.correct, etl_op.detail = True, not problems, "; ".join(problems)
        if not feat_op.failed:
            want = self.season.expected_model_rows
            feat_op.checked, feat_op.correct = True, state["rows"] == want
            feat_op.detail = "" if feat_op.correct else f"model matrix has {state['rows']} rows, expected {want}"


# --------------------------------------------------------------------------
# query_mix
# --------------------------------------------------------------------------

#: family -> queries; the relational family is the control on which
#: cache, checkpoint and Python-stage changes predict no move
QUERY_FAMILIES = {
    "relational_sql": ("q16_rolling_outliers", "v03_segment_share"),
    "dedup_graph": ("q47_minhash_lsh_pairs",),
    "vector_udf": ("q53_embedding_near_dups", "v17_compression_quality"),
}


class QueryMix:
    name = "query_mix"

    def __init__(self):
        from fantasy_premier_league_spark.queries import all_queries

        registry = all_queries()
        self.queries = {n: registry[n] for fam in QUERY_FAMILIES.values() for n in fam}
        self.family = {n: fam for fam, names in QUERY_FAMILIES.items() for n in names}

    def prepare(self, work: str, seed: int) -> None:
        self.data_dir = os.path.join(work, "tables")
        tables.write(self.data_dir)
        self.rng = random.Random(seed)

    def warmup(self, ctx: Context) -> None:
        """Run the DuckDB oracles. Then scan every table, run one join,
        aggregate and window, and start the Python workers, so that
        whichever query the seed puts first does not also pay the JVM's
        and the workers' generic first-use cost."""
        from check_parity import duck_connect

        con = duck_connect(self.data_dir)
        try:
            self.expected = {n: con.execute(q.oracle).df() for n, q in self.queries.items() if q.oracle}
        finally:
            con.close()
        spark = ctx.spark
        for t in tables.TABLES:
            spark.read.parquet(os.path.join(self.data_dir, f"{t}.parquet")).createOrReplaceTempView(t)
            spark.table(t).count()
        spark.sql("""SELECT c_mktsegment, o_orderpriority, SUM(o_totalprice) AS total,
                            RANK() OVER (PARTITION BY c_mktsegment ORDER BY SUM(o_totalprice)) AS r
                     FROM orders JOIN customer ON o_custkey = c_custkey
                     GROUP BY c_mktsegment, o_orderpriority""").toPandas()
        spark.range(1000).mapInPandas(lambda batches: batches, "id long").count()
        for t in tables.TABLES:
            spark.catalog.dropTempView(t)

    def run_pass(self, ctx: Context, pass_id: str) -> list[Op]:
        from fantasy_premier_league_spark.operators.cache import release_operator_caches

        tracer = ctx.tracer
        names = sorted(self.queries)
        self.rng.shuffle(names)
        self._results: dict = {}
        ops = []
        for name in names:
            q = self.queries[name]

            def body(sp, name=name, q=q):
                try:
                    with tracer.span("queries.plan", pass_id):
                        df = q.fn(ctx.spark, self.data_dir)
                    with tracer.span("queries.exec", pass_id):
                        self._results[name] = df.toPandas()
                finally:
                    with tracer.span("operators.cache.release", pass_id) as rel:
                        rel.attrs["released"] = release_operator_caches()

            ops.append(_timed_op(ctx, "queries.op", pass_id, body, query=name, family=self.family[name]))
        self._last = ops
        return ops

    def after_pass(self, ctx: Context) -> None:
        """Untimed: compare each collected result with its oracle."""
        from check_parity import compare

        for op in self._last:
            if not op.failed and op.name in self.expected:
                problems = compare(op.name, self._results[op.name], self.expected[op.name])
                op.checked, op.correct, op.detail = True, not problems, "; ".join(problems)


WORKLOADS = {w.name: w for w in (FplSeason, QueryMix)}
