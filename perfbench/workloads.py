"""The benchmark's workloads. Each one defines its input registration (part
of set-up), the ops of one pass, the output check of every op, and —
for the traced run — the operator self-time table.

An op is one user-visible job: a CLI stage on one subject-night
(sensor_batch) or one query (query_mix). Every public call into the
program sits inside a span, so the traced run can attribute Spark's
work to the call that caused it.
"""

from __future__ import annotations

import os
import shutil

import checks

#: query_mix: the stratified draw — one query from each operator family
#: (two for sensor), streaming included, all with DuckDB oracles. The
#: draw and its order are fixed so that pass time and latency
#: percentiles compare across seeds; the seed generates the tables.
QUERY_FAMILIES = {
    "sensor": ["flatline_runs", "sessionization"],
    "relational": ["pricing_summary"],
    "analytics": ["funnel"],
    "text_dedup": ["simhash"],
    "corpus": ["pack_invariants"],
    "vectors": ["embedding_centroids"],
    "sketches": ["theta_sketch_ops"],
    "streaming": ["streaming_tumbling"],
}
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
CORPUS_BUDGET = 512


class Op:
    """One op of a pass: ``run(tracer)`` does the work and returns the
    check to apply afterwards (a callable giving a list of problems)."""

    def __init__(self, kind: str, label: str, run):
        self.kind, self.label, self.run = kind, label, run


def _write(df, path):
    df.write.mode("overwrite").parquet(path)


# ---------------------------------------------------------------------------
# sensor_batch
# ---------------------------------------------------------------------------

class SensorBatch:
    name = "sensor_batch"
    op_kinds = ("reformat", "acc", "filter", "activity")

    def __init__(self, inputs: str, out: str):
        self.inputs, self.out = inputs, out
        self.exp = checks.load_expected(inputs)
        self.subjects = sorted(self.exp)

    def register(self, spark) -> None:
        # the CLI stages read their inputs per call; registration is the
        # file listing and schema read of every stage input
        for s in self.subjects:
            for part in ("ac", "measurements", "acc_reformatted"):
                spark.read.parquet(os.path.join(self.inputs, s, part)).schema

    def ops(self, spark, i: int) -> list[Op]:
        """Pass ``i``: the next subject-night of the cohort through the
        four CLI stages (the cohort is processed one night after another)."""
        s = self.subjects[i % len(self.subjects)]
        src, out, exp = os.path.join(self.inputs, s), os.path.join(self.out, s), self.exp[s]
        return [
            Op("reformat", s, lambda tr: self._reformat(spark, tr, src, out, exp)),
            Op("acc", s, lambda tr: self._acc(spark, tr, src, out, exp)),
            Op("filter", s, lambda tr: self._filter(spark, tr, src, out, exp)),
            Op("activity", s, lambda tr: self._activity(spark, tr, src, out)),
        ]

    @staticmethod
    def _reformat(spark, tr, src, out, exp):
        from sensomics_data_pipeline_spark.functions.timeops import (
            adjust_clock_skew, epoch_ms_to_timestamp, with_date_time_columns)
        from sensomics_data_pipeline_spark.sources.readers import read_raw_json
        from sensomics_data_pipeline_spark.sources.writers import (
            write_scalar_sidecar, write_three_way_split)

        dst = os.path.join(out, "reformat")
        with tr.span("sources.read_raw_json"):
            raw = read_raw_json(spark, os.path.join(src, "raw"))
        with tr.span("plans.reformat.build", plan=True):
            adjusted, d_time = adjust_clock_skew(raw, "time", ref_time_s=exp["ref_time_s"])
            timed = with_date_time_columns(adjusted.withColumn(
                "date_time", epoch_ms_to_timestamp("adj_time")).drop("time", "adj_time"))
        with tr.span("sources.write_three_way_split", action=True):
            write_three_way_split(timed, dst)
            write_scalar_sidecar(spark, float(d_time), f"{dst}/timestamp_diff")
        return lambda: checks.check_reformat(dst, exp, d_time)

    @staticmethod
    def _acc(spark, tr, src, out, exp):
        from sensomics_data_pipeline_spark.plans.pipelines import reformat_acc

        dst = os.path.join(out, "acc")
        ac = spark.read.parquet(os.path.join(src, "ac"))
        with tr.span("plans.reformat_acc.build", plan=True):
            df = reformat_acc(ac)
        with tr.span("sources.write", action=True):
            _write(df, dst)
        return lambda: checks.check_acc(dst, exp)

    @staticmethod
    def _filter(spark, tr, src, out, exp):
        from sensomics_data_pipeline_spark.plans.pipelines import filter_measurements

        dst = os.path.join(out, "filter")
        meas = spark.read.parquet(os.path.join(src, "measurements"))
        with tr.span("plans.filter_measurements.build", plan=True):
            df = filter_measurements(meas)
        with tr.span("sources.write", action=True):
            _write(df, dst)
        return lambda: checks.check_filter(dst, exp)

    @staticmethod
    def _activity(spark, tr, src, out):
        from sensomics_data_pipeline_spark.plans.pipelines import categorize_activity

        dst = os.path.join(out, "activity")
        meas = spark.read.parquet(os.path.join(src, "measurements"))
        acc = spark.read.parquet(os.path.join(src, "acc_reformatted"))
        with tr.span("plans.categorize_activity.build", plan=True):
            final, cat_acc, thresholds = categorize_activity(meas, acc)
        with tr.span("sources.write", action=True):
            _write(final, f"{dst}/activity_categorized")
            _write(cat_acc, f"{dst}/acc_category")
            _write(thresholds, f"{dst}/sleep_acc_thresholds")
        return lambda: checks.check_activity(dst)

    def ratios(self) -> dict[str, float]:
        """acc.aligned_frac (aligned rows / axis triples offered) and
        filters.kept_frac (filtered rows / measurement rows), from the
        outputs of the last pass; 0 where the stage left no output."""
        import pyarrow.parquet as pq

        offered = aligned = meas = kept = 0
        for s in self.subjects:
            if not os.path.exists(os.path.join(self.out, s, "filter")):
                continue
            offered += self.exp[s]["ac_rows"] / 3
            p = os.path.join(self.out, s, "acc")
            if os.path.exists(os.path.join(p, "_SUCCESS")):
                aligned += pq.read_table(p, columns=["g_force"]).num_rows / 5
            meas += pq.read_table(os.path.join(self.inputs, s, "measurements"),
                                  columns=["kind"]).num_rows
            kept += pq.read_table(os.path.join(self.out, s, "filter")).num_rows
        return {"acc.aligned_frac": aligned / max(offered, 1),
                "filters.kept_frac": kept / max(meas, 1)}

    def self_time_cases(self, spark):
        """(name, build) pairs for the operator self-time table: ``build``
        returns the operator's output DataFrame over inputs that are
        already cached. Subject 0 only."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as T
        from sensomics_data_pipeline_spark.functions.timeops import (
            adjust_clock_skew, epoch_ms_to_timestamp, with_date_time_columns)
        from sensomics_data_pipeline_spark.operators import acc as acc_ops
        from sensomics_data_pipeline_spark.operators import activity as act_ops
        from sensomics_data_pipeline_spark.operators import filters as filt_ops
        from sensomics_data_pipeline_spark.operators import intervals as iv_ops
        from sensomics_data_pipeline_spark.operators import unpivot as unp_ops
        from sensomics_data_pipeline_spark.operators import windows as win_ops
        from sensomics_data_pipeline_spark.sources.readers import read_raw_json

        s = self.subjects[0]
        src = os.path.join(self.inputs, s)
        raw = read_raw_json(spark, os.path.join(src, "raw"))
        adjusted, _ = adjust_clock_skew(raw, "time", ref_time_s=self.exp[s]["ref_time_s"])
        timed = with_date_time_columns(adjusted.withColumn(
            "date_time", epoch_ms_to_timestamp("adj_time")).drop("time", "adj_time"))
        ac = spark.read.parquet(os.path.join(src, "ac")).withColumn(
            "data", F.from_json("data", T.ArrayType(T.DoubleType())))
        meas = spark.read.parquet(os.path.join(src, "measurements"))
        acc = spark.read.parquet(os.path.join(src, "acc_reformatted"))
        c = {}  # cached intermediates, filled as the cases run in order
        return [
            ("unpivot.normalize_measurements",
             lambda: unp_ops.normalize_measurements(_cache(c, "timed", timed))),
            ("acc.align_axes", lambda: acc_ops.align_axes(_cache(c, "ac", ac), [])),
            ("acc.resample_10hz", lambda: acc_ops.resample_10hz(
                _cache(c, "aligned", acc_ops.align_axes(c["ac"], [])), [], burst=True)),
            # resample_10hz output has the 10 Hz wide shape of the
            # generated aligned table, which stands in for it here
            ("acc.enrich_acc", lambda: acc_ops.enrich_acc(
                _cache(c, "wide", acc.select("acx", "acy", "acz", "date_time")))),
            ("filters.flatline_runs", lambda: filt_ops.flatline_runs(
                _cache(c, "hr", meas.filter(F.col("kind") == "hr")), [])),
            ("intervals.interval_semijoin", lambda: iv_ops.interval_semijoin(
                _cache(c, "meas", meas), _cache(c, "keep", filt_ops.include_intervals(
                    filt_ops.flatline_runs(c["hr"], []), []).filter(F.col("include") == 1)
                    .select("start_time", "end_time")), [])),
            ("filters.apply_threshold_rules", lambda: filt_ops.apply_threshold_rules(
                _cache(c, "kept", iv_ops.interval_semijoin(c["meas"], c["keep"], [])))),
            ("windows.dedup_consecutive", lambda: win_ops.dedup_consecutive(
                _cache(c, "sleep", meas.filter(F.col("kind") == "sleep_total")), [])),
            ("windows.counter_reset_delta", lambda: win_ops.counter_reset_delta(
                _cache(c, "sleep_dedup", win_ops.dedup_consecutive(c["sleep"], [])), [],
                out_col="sleep_minutes")),
            ("intervals.merge_intervals", lambda: iv_ops.merge_intervals(
                _cache(c, "sleep_iv", win_ops.counter_reset_delta(
                    c["sleep_dedup"], [], out_col="sleep_minutes").select(
                    (F.col("date_time") - F.col("sleep_minutes").cast("long")
                     * F.expr("INTERVAL 1 MINUTE")).alias("start_time"),
                    F.col("date_time").alias("end_time"))), [])),
            ("intervals.subtract_intervals", lambda: iv_ops.subtract_intervals(
                _cache(c, "sleep_merged", iv_ops.merge_intervals(c["sleep_iv"], [])),
                _cache(c, "step_iv", meas.filter((F.col("kind") == "step") & (F.col("data") > 0))
                       .select((F.col("date_time") - F.expr("INTERVAL 10 MINUTES"))
                               .alias("start_time"), F.col("date_time").alias("end_time"))),
                [], plan="auto")),
            ("activity.sleep_acc_thresholds", lambda: act_ops.sleep_acc_thresholds(
                _cache(c, "acc", acc), _cache(c, "sleep_ms", iv_ops.subtract_intervals(
                    c["sleep_merged"], c["step_iv"], [], plan="auto")), [])),
            ("activity.categorize_windows", lambda: act_ops.categorize_windows(
                c["acc"], _cache(c, "thr", act_ops.sleep_acc_thresholds(
                    c["acc"], c["sleep_ms"], [])), [])),
        ]


def _cache(store: dict, key: str, df):
    """Cache and materialize ``df`` once under ``key``, so a self-time
    case times its operator and not the operator's inputs."""
    if key not in store:
        store[key] = df.cache()
        store[key].count()
    return store[key]


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------

class QueryMix:
    name = "query_mix"
    op_kinds = ("query",)

    def __init__(self, inputs: str, out: str):
        import __spark_entry__ as entry

        self.inputs = inputs
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        self.names = [q for fam in QUERY_FAMILIES.values() for q in fam]
        self.wrong: dict[str, str] = {}
        self.corpus_dir = os.path.join(inputs, "corpus")
        self.n_docs = checks.load_expected(self.corpus_dir)["docs"]
        self.packed = None

    def register(self, spark) -> None:
        from sensomics_data_pipeline_spark.sources.readers import load_table

        for t in TABLES:
            load_table(spark, self.inputs, t).createOrReplaceTempView(t)

    def check_all(self, spark) -> dict[str, str]:
        """The oracle check, run once outside the timed loop: every drawn
        query collected and hash-compared with its DuckDB oracle."""
        import duckdb

        con = duckdb.connect()
        con.execute(f"SET threads TO {os.cpu_count() and len(os.sched_getaffinity(0))}")
        for t in TABLES:
            path = os.path.join(self.inputs, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        self.wrong = checks.check_queries(spark, con, self.names, self.queries,
                                          self.oracles, self.inputs)
        con.close()
        return self.wrong

    def ops(self, spark, i: int) -> list[Op]:
        return [Op("query", q, lambda tr, q=q: self._query(spark, tr, q)) for q in self.names]

    def _query(self, spark, tr, q):
        with tr.span(f"plans.queries.{q}.build", plan=True):
            df = self.queries[q](spark, self.inputs)
        with tr.span("sink.noop", action=True):
            df.write.format("noop").mode("overwrite").save()
        return lambda: [self.wrong[q]] if q in self.wrong else []

    def ratios(self) -> dict[str, float]:
        """corpus.survivor_frac of the traced prepare_corpus pass."""
        if self.packed is None:
            return {}
        return {"corpus.survivor_frac": self.packed.count() / self.n_docs}

    def self_time_cases(self, spark):
        """Every drawn query over cached tables, then the corpus layers:
        one ``prepare_corpus`` pass (scrub → repetition → quality gate →
        decontaminate → MinHash dedup → pack) over the generated corpus,
        and each of its operators over cached inputs."""
        from sensomics_data_pipeline_spark.sources.readers import load_table

        c = {}

        def query(q):
            for t in TABLES:
                _cache(c, t, load_table(spark, self.inputs, t))
            return self.queries[q](spark, self.inputs)

        return ([(f"queries.{q}", lambda q=q: query(q)) for q in self.names]
                + self._corpus_cases(spark))

    def _corpus_cases(self, spark):
        from pyspark.sql import functions as F
        from sensomics_data_pipeline_spark.operators import dedup, packing, text
        from sensomics_data_pipeline_spark.operators.corpus import prepare_corpus

        docs = spark.read.parquet(os.path.join(self.corpus_dir, "documents"))
        eval_docs = spark.read.parquet(os.path.join(self.corpus_dir, "eval"))
        c = {}

        def grams():
            if "grams" not in c:
                c["grams"] = text.eval_gram_hashes(eval_docs, n=8)
            return c["grams"]

        def corpus_pass():
            _cache(c, "docs", docs)
            self.packed = prepare_corpus(
                c["docs"], eval_grams=grams(), quality_keep_frac=0.6,
                dedup_method="minhash", pack_budget=CORPUS_BUDGET)
            return self.packed

        def scrubbed():
            return _cache(c, "scrubbed", text.scrub_pii(_cache(c, "docs", docs)).select(
                "doc_id", "source", F.col("scrubbed_text").alias("text")))

        def nonrep():
            return _cache(c, "nonrep", text.repetition_signals(scrubbed(), engine_exact=False)
                          .filter(~F.col("repetitious")).select("doc_id", "source", "text"))

        def gated():
            return _cache(c, "gated", text.quality_percentile_gate(
                nonrep(), keep_frac=0.6).select(
                "doc_id", "source", "text", "n_tokens", "quality_score"))

        def clean():
            return _cache(c, "clean", text.contamination_probe(gated(), grams(), n=8)
                          .filter(~F.col("contaminated")).drop("n_overlap", "contaminated"))

        return [
            ("plans.prepare_corpus", corpus_pass),
            ("text.scrub_pii", lambda: text.scrub_pii(_cache(c, "docs", docs))),
            ("text.repetition_signals",
             lambda: text.repetition_signals(scrubbed(), engine_exact=False)),
            ("text.quality_percentile_gate",
             lambda: text.quality_percentile_gate(nonrep(), keep_frac=0.6)),
            ("text.contamination_probe", lambda: text.contamination_probe(gated(), grams(), n=8)),
            ("dedup.dedup_corpus", lambda: dedup.dedup_corpus(clean(), method="minhash")),
            ("packing.pack_sequences", lambda: packing.pack_sequences(
                _cache(c, "surv", dedup.dedup_corpus(clean(), method="minhash"))
                .select("doc_id", "n_tokens"), budget=CORPUS_BUDGET)),
        ]


WORKLOADS = {w.name: w for w in (SensorBatch, QueryMix)}


def clean_outputs(out: str) -> None:
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
