"""Fourth-face queries, pre-authored for round-7 rotation.

The r6 prefix consumes most of the r6 third faces, which re-starves 34
tags the moment CORRECTNESS_r06 lands (simulated against the ledger at
authoring time). Each query here is a FOURTH independently-shaped face
for one of those rows — written this round so the r7 optimizer starts
with a fresh provider for every tag instead of another authoring pass.
Same oracle discipline as the rest of the registry.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import Window
from pyspark.sql import functions as F

from oeem_etl_spark.catalog import local_frame
from oeem_etl_spark.plans.registry import query
from oeem_etl_spark.plans.util import T, dsum, sql_dsum

_TMP = os.path.join(
    tempfile.gettempdir(), f"oeem_etl_spark_breadth4_{os.getpid()}"
)

_CAST_TS = "CAST(ts AS TIMESTAMP)"


@query(
    "a51_text_standardize",
    sql="""
    SELECT doc_id AS record_id,
           upper(lang) AS lang_code,
           CAST(n_chars AS DOUBLE) AS chars,
           'docs' AS channel
    FROM documents WHERE doc_id <= 300
    """,
    tier="T2",
    survey="A4,K1,B5",
)
def a51_text_standardize(spark, sf_dir):
    """Text-source ingest face: documents serialize to pipe-delimited
    TEXT lines (spark.read.text — no CSV machinery), the parse stage
    splits/casts by position, and standardize_schema maps the raw fields
    onto the canonical layout (rename+cast+reorder). a4/a15 read text
    verbatim; this face PARSES it."""
    from oeem_etl_spark.operators.timeseries import standardize_schema

    docs = (
        T(spark, sf_dir, "documents")
        .where(F.col("doc_id") <= 300)
        .select(
            F.concat_ws(
                "|",
                F.col("doc_id").cast("string"),
                "lang",
                F.col("n_chars").cast("string"),
            ).alias("value")
        )
    )
    path = os.path.join(_TMP, "a51_text")
    docs.write.mode("overwrite").text(path)
    raw = spark.read.text(path)
    parts = F.split("value", "\\|")
    parsed = raw.select(
        parts.getItem(0).cast("long").alias("doc_id"),
        F.upper(parts.getItem(1)).alias("lang_uc"),
        parts.getItem(2).alias("n_chars_s"),
    )
    canon = standardize_schema(
        parsed,
        {
            "record_id": ("doc_id", None),
            "lang_code": ("lang_uc", None),
            "chars": ("n_chars_s", "double"),
        },
    )
    return canon.withColumn("channel", F.lit("docs"))


@query(
    "a52_outer_catalog_audit",
    sql="""
    WITH expected(event_type, quota) AS (
      VALUES ('view', 5000), ('click', 3000), ('purchase', 800),
             ('signup', 400), ('error', 200), ('refund', 50)
    ),
    obs AS (SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type)
    SELECT COALESCE(e.event_type, o.event_type) AS event_type,
           COALESCE(e.quota, -1) AS quota,
           COALESCE(o.n, 0) AS observed
    FROM expected e FULL OUTER JOIN obs o USING (event_type)
    """,
    tier="T2",
    survey="A5,C2,B6",
)
def a52_outer_catalog_audit(spark, sf_dir):
    """FULL OUTER join between an in-memory quota catalog and observed
    event counts, with COALESCE defaults on both null lanes — the
    reconciliation-report shape (c2's face was table↔table; a52 is
    literal↔scan and exercises both unmatched directions via the
    planted 'refund' row)."""
    expected = local_frame(
        spark,
        [("view", 5000), ("click", 3000), ("purchase", 800),
         ("signup", 400), ("error", 200), ("refund", 50)],
        "event_type string, quota int",
    )
    obs = T(spark, sf_dir, "events").groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    j = expected.join(obs, "event_type", "full_outer")
    return j.select(
        "event_type",
        F.coalesce("quota", F.lit(-1)).alias("quota"),
        F.coalesce("n", F.lit(0)).alias("observed"),
    )


@query(
    "a53_pipe_csv_nullrep",
    sql="""
    SELECT o_orderkey AS order_id,
           CASE WHEN o_orderpriority = '3-MEDIUM' THEN NULL
                ELSE o_orderpriority END AS priority,
           reverse(o_orderpriority) AS rev_priority,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders WHERE o_orderkey <= 600
    """,
    tier="T2",
    survey="A2,A7,B1,B5,H1,B6",
)
def a53_pipe_csv_nullrep(spark, sf_dir):
    """CSV face with a NON-DEFAULT dialect: pipe separator and an
    explicit nullValue token round-trip a nullable column (priority
    '3-MEDIUM' is nulled before the write, so the reader must map the
    token back to NULL, not the string) — plus rename/cast/reverse on
    the way out."""
    o = (
        T(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") <= 600)
        .select(
            "o_orderkey",
            F.when(
                F.col("o_orderpriority") == "3-MEDIUM", F.lit(None)
            )
            .otherwise(F.col("o_orderpriority"))
            .alias("prio"),
            "o_orderpriority",
            "o_totalprice",
        )
    )
    path = os.path.join(_TMP, "a53_csv")
    o.write.mode("overwrite").option("header", True).option(
        "sep", "|"
    ).option("nullValue", "\\N").csv(path)
    back = spark.read.option("header", True).option("sep", "|").option(
        "nullValue", "\\N"
    ).schema(
        "o_orderkey BIGINT, prio STRING, o_orderpriority STRING,"
        " o_totalprice DOUBLE"
    ).csv(path)
    return (
        back.withColumnRenamed("o_orderkey", "order_id")
        .select(
            "order_id",
            F.col("prio").alias("priority"),
            F.reverse("o_orderpriority").alias("rev_priority"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
    )


@query(
    "i51_stream_upsert_windows",
    sql=f"""
    SELECT time_bucket(INTERVAL '30 minutes', {_CAST_TS}) AS window_start,
           event_type, COUNT(*) AS cnt
    FROM events WHERE event_type IN ('purchase', 'signup')
    GROUP BY window_start, event_type
    """,
    tier="T3",
    survey="A9,A10,I1,I8",
)
def i51_stream_upsert_windows(spark, sf_dir):
    """Streaming 30-minute windows draining through the UPSERT
    foreachBatch sink (keep-latest merge into a parquet target — the
    incremental datastore flavor of A10, where i31's face appended):
    update-mode re-emissions of a growing window are absorbed by the
    merge, so the target holds exactly the final count per
    (window, type)."""
    import shutil

    from oeem_etl_spark.streaming import harness, ops
    from oeem_etl_spark.streaming.source import events_stream

    target = os.path.join(
        _TMP, f"i51_upsert_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    shutil.rmtree(target, ignore_errors=True)
    sdf = events_stream(spark, sf_dir).where(
        F.col("event_type").isin("purchase", "signup")
    )
    agged = ops.tumbling_agg(
        sdf,
        "30 minutes",
        ["event_type"],
        [F.count(F.lit(1)).alias("cnt")],
    )
    harness.foreach_batch_upsert(
        agged,
        target,
        keys=["window_start", "event_type"],
        order_cols=["cnt"],
        output_mode="update",
    )
    return spark.read.parquet(target).select(
        "window_start", "event_type", "cnt"
    )


@query(
    "t31_loyal_then_lapsed",
    sql="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey IN (
      SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
    )
    AND c_custkey NOT IN (
      SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
    )
    ORDER BY c_custkey
    """,
    tier="T2",
    survey="C3,G4,H4",
)
def t31_loyal_then_lapsed(spark, sf_dir):
    """Churn cohort via set algebra: customers WITH 1995 orders (left
    semi) EXCEPT those with 1996 orders — the semi-join feeding an
    EXCEPT, where t04's face used EXISTS and g8's bag ops compared raw
    multisets."""
    c = T(spark, sf_dir, "customer").select("c_custkey", "c_name")
    o = T(spark, sf_dir, "orders")
    in95 = o.where(F.year("o_orderdate") == 1995).select(
        F.col("o_custkey").alias("c_custkey")
    )
    in96 = o.where(F.year("o_orderdate") == 1996).select(
        F.col("o_custkey").alias("c_custkey")
    )
    keys = in95.distinct().exceptAll(in96.distinct())
    return (
        c.join(keys, "c_custkey", "left_semi").orderBy("c_custkey")
    )


@query(
    "c51_active_period_asof",
    sql=f"""
    WITH periods AS (
      SELECT user_id, date_trunc('day', {_CAST_TS}) AS day,
             MIN({_CAST_TS}) AS p_start, MAX({_CAST_TS}) AS p_end
      FROM events GROUP BY user_id, day
    ),
    mw(mw_name, ms, me) AS (VALUES
      ('week1', TIMESTAMP '2024-01-01 00:00:00',
                TIMESTAMP '2024-01-08 00:00:00'),
      ('week3', TIMESTAMP '2024-01-15 00:00:00',
                TIMESTAMP '2024-01-22 00:00:00')),
    overlapped AS (
      SELECT p.user_id, p.day, p.p_start, mw.mw_name
      FROM periods p JOIN mw ON p.p_start < mw.me AND mw.ms < p.p_end
    ),
    pur AS (
      SELECT user_id, {_CAST_TS} AS ts, value FROM events
      WHERE event_type = 'purchase'
    )
    SELECT o.user_id,
           CAST(epoch_us(o.day) AS BIGINT) AS day_us, o.mw_name,
           ROUND((SELECT p.value FROM pur p
                  WHERE p.user_id = o.user_id AND p.ts <= o.p_start
                  ORDER BY p.ts DESC, p.value LIMIT 1), 6)
             AS last_purchase_value
    FROM overlapped o
    """,
    tier="T2",
    survey="C7,C8,A5",
)
def c51_active_period_asof(spark, sf_dir):
    """Interval-overlap FEEDING an as-of join in one pipeline: per-user
    daily active periods ([first, last] event) overlap-joined with
    literal analysis weeks, then each surviving period start looks up
    the user's latest prior purchase value (backward as-of). Both join
    families composed, which no single face exercised."""
    from oeem_etl_spark.operators.relational import (
        asof_join,
        interval_overlap_join,
    )

    ev = T(spark, sf_dir, "events")
    periods = ev.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.min("ts").alias("p_start"), F.max("ts").alias("p_end"))
    mw = local_frame(
        spark,
        [
            ("week1", "2024-01-01 00:00:00", "2024-01-08 00:00:00"),
            ("week3", "2024-01-15 00:00:00", "2024-01-22 00:00:00"),
        ],
        "mw_name string, ms string, me string",
    ).select(
        "mw_name",
        F.col("ms").cast("timestamp").alias("ms"),
        F.col("me").cast("timestamp").alias("me"),
    )
    overlapped = interval_overlap_join(
        periods, F.broadcast(mw), "p_start", "p_end", "ms", "me"
    ).select("user_id", "day", "p_start", "mw_name")
    # right side pre-deduped per (user, ts): keep the smallest value so
    # the as-of winner is deterministic (same rule as the oracle's
    # ORDER BY ts DESC, value LIMIT 1)
    w = Window.partitionBy("user_id", "ts").orderBy("value")
    pur = (
        ev.where(F.col("event_type") == "purchase")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "ts", F.round("value", 6).alias("pval"))
    )
    out = asof_join(
        overlapped.withColumn("ts", F.col("p_start")),
        pur.select("user_id", "ts", F.col("pval")),
        keys=["user_id"],
        left_ts="ts",
        right_ts="ts",
        value_cols=["pval"],
        allow_exact=True,
    )
    return out.select(
        "user_id",
        F.unix_micros("day").alias("day_us"),
        "mw_name",
        F.col("pval").alias("last_purchase_value"),
    )


@query(
    "d51_pivot_collected_ids",
    sql="""
    WITH cell AS (
      SELECT source, lang,
             array_to_string(list(doc_id ORDER BY doc_id), ',') AS ids
      FROM documents WHERE doc_id <= 120 GROUP BY source, lang
    ),
    piv AS (
      SELECT source,
             MAX(CASE WHEN lang = 'en' THEN ids END) AS en,
             MAX(CASE WHEN lang = 'de' THEN ids END) AS de,
             MAX(CASE WHEN lang = 'fr' THEN ids END) AS fr
      FROM cell GROUP BY source
    )
    SELECT source, lang, ids FROM (
      SELECT source, 'en' AS lang, en AS ids FROM piv
      UNION ALL SELECT source, 'de', de FROM piv
      UNION ALL SELECT source, 'fr', fr FROM piv
    ) WHERE ids IS NOT NULL
    """,
    tier="T2",
    survey="D13,D14,D5",
)
def d51_pivot_collected_ids(spark, sf_dir):
    """Pivot whose CELLS are collected lists (sorted, comma-joined —
    the d5 canonical form), then unpivot back: the
    collect-into-crosstab report shape; d42's quarter face pivoted
    scalar sums."""
    docs = T(spark, sf_dir, "documents").where(F.col("doc_id") <= 120)
    cell = docs.groupBy("source", "lang").agg(
        F.array_join(
            F.array_sort(F.collect_list("doc_id")), ","
        ).alias("ids")
    )
    piv = cell.groupBy("source").pivot("lang", ["en", "de", "fr"]).agg(
        F.max("ids")
    )
    unp = piv.unpivot(["source"], ["en", "de", "fr"], "lang", "ids")
    return unp.where(F.col("ids").isNotNull())


@query(
    "g21_nation_presence",
    sql="""
    SELECT n_name FROM (
      SELECT n_name FROM nation n
      WHERE EXISTS (SELECT 1 FROM customer c WHERE c.c_nationkey = n.n_nationkey)
      INTERSECT
      SELECT n_name FROM nation n
      WHERE EXISTS (SELECT 1 FROM supplier s WHERE s.s_nationkey = n.n_nationkey)
    )
    """,
    tier="T2",
    survey="G3,G2,C3",
)
def g21_nation_presence(spark, sf_dir):
    """Nations present on BOTH market sides: two semi-join projections
    intersected — set algebra over derived (not raw-column) sets, where
    a43's face intersected a literal catalog."""
    n = T(spark, sf_dir, "nation")
    c = T(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("n_nationkey")
    )
    s = T(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("n_nationkey")
    )
    with_c = n.join(c, "n_nationkey", "left_semi").select("n_name")
    with_s = n.join(s, "n_nationkey", "left_semi").select("n_name")
    return with_c.intersect(with_s)


@query(
    "h61_map_zip_profile",
    sql="""
    WITH per AS (
      SELECT user_id, event_type, COUNT(*) AS n,
             CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
               AS sum_m
      FROM events WHERE user_id <= 60 GROUP BY user_id, event_type
    )
    SELECT user_id, event_type,
           CAST(round(CAST(sum_m AS DOUBLE) / n) AS BIGINT) AS mean_micros
    FROM per
    """,
    tier="T2",
    survey="H10,H11,H8",
)
def h61_map_zip_profile(spark, sf_dir):
    """map_zip_with face: per-user COUNT and SUM maps (keyed by event
    type) are zipped into one mean-micros map — the two-metric profile
    merge — and exploded back to rows. h51 rewrote one map's values;
    this face combines TWO maps keywise."""
    ev = T(spark, sf_dir, "events").where(F.col("user_id") <= 60)
    per = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.round(F.col("value") * 1_000_000).cast("long")
        ).alias("sum_m"),
    )
    maps = per.groupBy("user_id").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("event_type", "n")))
        ).alias("counts"),
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("event_type", "sum_m")))
        ).alias("sums"),
    )
    zipped = maps.select(
        "user_id",
        F.map_zip_with(
            "sums",
            "counts",
            lambda _, s, n: F.round(s.cast("double") / n).cast("long"),
        ).alias("means"),
    )
    return zipped.select(
        "user_id", F.explode("means").alias("event_type", "mean_micros")
    )


@query(
    "k81_parse_assembled_ts",
    sql=f"""
    SELECT event_id,
           CAST(epoch_us(strptime(
             lpad(CAST(day(CAST(ts AS TIMESTAMP)) AS VARCHAR), 2, '0')
             || '/' ||
             lpad(CAST(month(CAST(ts AS TIMESTAMP)) AS VARCHAR), 2, '0')
             || '/2024 ' ||
             lpad(CAST(hour(CAST(ts AS TIMESTAMP)) AS VARCHAR), 2, '0')
             || ':' ||
             lpad(CAST(minute(CAST(ts AS TIMESTAMP)) AS VARCHAR), 2, '0'),
             '%d/%m/%Y %H:%M')) AS BIGINT) AS minute_us
    FROM events WHERE event_id <= 800
    """,
    tier="T2",
    survey="K2,H4,H1",
)
def k81_parse_assembled_ts(spark, sf_dir):
    """parse_timestamps face #4 — a EUROPEAN dd/MM/yyyy HH:mm string is
    ASSEMBLED from the fixture's timestamp, then parsed back with an
    explicit format (the locale-format ingestion case; k2 parsed ISO,
    k55 parsed epoch micros). Output is the minute-truncated epoch so
    the round trip is value-checked without sub-minute precision."""
    ev = T(spark, sf_dir, "events").where(F.col("event_id") <= 800)
    assembled = F.concat(
        F.lpad(F.dayofmonth("ts").cast("string"), 2, "0"),
        F.lit("/"),
        F.lpad(F.month("ts").cast("string"), 2, "0"),
        F.lit("/2024 "),
        F.lpad(F.hour("ts").cast("string"), 2, "0"),
        F.lit(":"),
        F.lpad(F.minute("ts").cast("string"), 2, "0"),
    )
    parsed = F.to_timestamp(assembled, "dd/MM/yyyy HH:mm")
    return ev.select(
        "event_id", F.unix_micros(parsed).alias("minute_us")
    )


@query(
    "k91_halfmonth_unit_rebase",
    sql=f"""
    SELECT CASE WHEN day(CAST(ts AS TIMESTAMP)) <= 15
                THEN date_trunc('month', CAST(ts AS TIMESTAMP))
                ELSE date_trunc('month', CAST(ts AS TIMESTAMP))
                     + INTERVAL '15 days' END AS period_start,
           COUNT(*) AS n,
           CAST(SUM(CAST(round(value * 1000000) AS BIGINT)
                    * CASE WHEN event_type IN ('view', 'click')
                           THEN 1 ELSE 1000 END) AS BIGINT) AS wh_micros
    FROM events GROUP BY period_start
    """,
    tier="T2",
    survey="K7,K8,B4",
)
def k91_halfmonth_unit_rebase(spark, sf_dir):
    """Interval-align + unit-normalize fused: readings align to
    HALF-MONTH billing periods (1st/16th boundaries — calendar-shaped,
    unlike k71's fixed 10-day cycles) while a CASE-dispatched factor
    rebases interaction units to Wh-micros in the same pass — the
    one-scan billing rollup."""
    ev = T(spark, sf_dir, "events")
    month = F.date_trunc("month", F.col("ts"))
    period = F.when(F.dayofmonth("ts") <= 15, month).otherwise(
        month + F.expr("INTERVAL 15 DAYS")
    )
    factor = F.when(
        F.col("event_type").isin("view", "click"), F.lit(1)
    ).otherwise(F.lit(1000))
    wh = F.round(F.col("value") * 1_000_000).cast("long") * factor
    return ev.groupBy(period.alias("period_start")).agg(
        F.count(F.lit(1)).alias("n"), F.sum(wh).alias("wh_micros")
    )


@query(
    "k101_type_sessions_native",
    sql=f"""
    WITH o AS (
      SELECT user_id, event_type, {_CAST_TS} AS ts,
             lag({_CAST_TS}) OVER (PARTITION BY user_id, event_type
                                   ORDER BY {_CAST_TS}) AS prev
      FROM events
    ),
    s AS (
      SELECT user_id, event_type,
             SUM(CASE WHEN prev IS NULL
                       OR epoch_us(ts) - epoch_us(prev) > 1200000000
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id, event_type ORDER BY ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sess
      FROM o
    )
    SELECT user_id, event_type, COUNT(DISTINCT sess) AS n_sessions
    FROM s GROUP BY user_id, event_type
    """,
    tier="T2",
    survey="K11,I3",
)
def k101_type_sessions_native(spark, sf_dir):
    """Native session_window sessionization keyed by (user, TYPE) with a
    20-minute gap — k11b keyed by user at 30 minutes, k73 built sessions
    manually; this face proves the native merge under a compound key.
    Events exactly 20:00 apart stay in one session on both engines
    (session_window merges the boundary; the oracle's strict > does not
    split)."""
    ev = T(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "user_id", "event_type", F.session_window("ts", "20 minutes")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
    )


@query(
    "i61_stateful_extremes",
    sql=f"""
    SELECT user_id, COUNT(*) AS n_events,
           ROUND(CAST(MIN(CAST(round(value * 1000000) AS BIGINT)) AS DOUBLE)
                 / 1000000, 6) AS min_value,
           ROUND(CAST(MAX(CAST(round(value * 1000000) AS BIGINT)) AS DOUBLE)
                 / 1000000, 6) AS max_value
    FROM events GROUP BY user_id
    """,
    tier="T3",
    survey="I6,I8",
)
def i61_stateful_extremes(spark, sf_dir):
    """applyInPandasWithState face #4: per-user running (min, max, count)
    bounds tracker in exact integer micros (streaming/ops.extremes_state)
    — a state machine whose update is IDEMPOTENT under replay, unlike
    the sum in i6/i34; the last update-mode emission per key equals the
    batch extremes exactly."""
    from oeem_etl_spark.streaming import harness, ops
    from oeem_etl_spark.streaming.source import events_stream

    sdf = events_stream(spark, sf_dir)
    updates = ops.extremes_state(sdf)
    drained = harness.run_available_now(updates, "update")
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        drained.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


@query(
    "j51_udtf_sentences",
    sql="""
    WITH sent AS (
      SELECT doc_id,
             trim(unnest(str_split(text, '. '))) AS sentence
      FROM documents WHERE doc_id <= 60
    )
    SELECT doc_id, sentence, length(sentence) AS n_chars
    FROM sent WHERE length(sentence) > 0
    """,
    tier="T3",
    survey="J6,L5,H9",
)
def j51_udtf_sentences(spark, sf_dir):
    """UDTF face #4: sentence segmentation (split on '. ', trimmed,
    empties dropped) — the chunking pre-pass of every RAG/training
    pipeline, as a lateral-joined Python UDTF (j6 split words, j34
    emitted char bigrams)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="sentence string")
    class Sentences:
        def eval(self, text: str):
            for s in (text or "").split(". "):
                s = s.strip()
                if s:
                    yield (s,)

    spark.udtf.register("oeem_sentences", Sentences)
    T(spark, sf_dir, "documents").where(
        F.col("doc_id") <= 60
    ).createOrReplaceTempView("j51_docs")
    return spark.sql(
        """
        SELECT d.doc_id, s.sentence, length(s.sentence) AS n_chars
        FROM j51_docs d, LATERAL oeem_sentences(d.text) s
        """
    )


@query(
    "l91_knn_value_regress",
    sql="""
    WITH q AS (SELECT vec_id AS q_id, embedding AS qvec FROM embeddings
               WHERE vec_id BETWEEN 30 AND 39),
    scored AS (
      SELECT q.q_id, e.vec_id,
             ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                          CAST(q.qvec AS DOUBLE[])), 6)
               AS score
      FROM embeddings e CROSS JOIN q
    ),
    topk AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY score DESC, vec_id) AS rnk
        FROM scored
      ) WHERE rnk <= 8
    )
    SELECT t.q_id,
           ROUND(AVG(CAST(e.label AS DOUBLE)), 6) AS predicted_value,
           COUNT(*) AS k_used
    FROM topk t JOIN embeddings e USING (vec_id)
    GROUP BY t.q_id
    """,
    tier="T3",
    survey="L4,L3,D1",
)
def l91_knn_value_regress(spark, sf_dir):
    """kNN REGRESSION face (l4/l81 classified): the prediction is the
    mean neighbor label over k=8 — the numeric-target variant every
    kNN surface needs; same exact top-k machinery, one extra rounded
    mean."""
    from oeem_etl_spark.operators import similarity

    emb = T(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id").between(30, 39)).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    topk = similarity.cosine_topk(emb, queries, k=8)
    return (
        topk.join(emb.select("vec_id", "label"), "vec_id")
        .groupBy("q_id")
        .agg(
            F.round(F.avg(F.col("label").cast("double")), 6).alias(
                "predicted_value"
            ),
            F.count(F.lit(1)).alias("k_used"),
        )
    )


@query(
    "l101_keyword_tfidf_match",
    sql="""
    WITH tf AS (
      SELECT doc_id, tok AS term, COUNT(*) AS tf FROM (
        SELECT doc_id, unnest(str_split(text, ' ')) AS tok FROM documents
      ) GROUP BY doc_id, tok
    ), dfreq AS (
      SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents),
    kw(term) AS (VALUES ('data'), ('table'), ('hash'), ('join')),
    hits AS (
      SELECT tf.doc_id,
             ROUND(SUM(CAST(round(
               round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df), 6)
               * 1000000) AS BIGINT)) / 1000000.0, 6) AS score,
             COUNT(*) AS n_terms
      FROM tf JOIN kw USING (term)
      JOIN dfreq USING (term) CROSS JOIN n
      GROUP BY tf.doc_id
    )
    SELECT doc_id, score, CAST(n_terms AS BIGINT) AS n_terms
    FROM hits
    ORDER BY score DESC, doc_id LIMIT 15
    """,
    tier="T3",
    survey="L6,L5,F3",
)
def l101_keyword_tfidf_match(spark, sf_dir):
    """tf-idf face #4 — RETRIEVAL against a literal keyword set: each
    document scores the sum of its tf-idf weights over the query terms
    (the matching direction; l6 emits the matrix, l82 extracts per-doc
    keywords, l47 is BM25). Top-15 fully tie-broken."""
    from oeem_etl_spark.operators import text

    docs = T(spark, sf_dir, "documents")
    kw = ["data", "table", "hash", "join"]
    raw = text.tf_idf(docs, "doc_id", "text").where(F.col("term").isin(kw))
    # integer-micros accumulation (plans/util dsum discipline): summing
    # rounded-double weights directly is accumulation-order-dependent at
    # the 6th decimal
    hits = raw.groupBy("doc_id").agg(
        F.round(
            F.sum(F.round(F.col("tfidf") * 1_000_000).cast("long"))
            / F.lit(1_000_000.0),
            6,
        ).alias("score"),
        F.count(F.lit(1)).alias("n_terms"),
    )
    return hits.orderBy(F.col("score").desc(), "doc_id").limit(15)


@query(
    "l111_embed_norm_deciles",
    sql="""
    WITH emb AS (
      SELECT doc_id,
             list_sum(list_transform(
               list_transform(generate_series(0, 7), j ->
                 CAST(concat('0x', substr(md5(text || '|' ||
                      CAST(j AS VARCHAR)), 1, 8)) AS UBIGINT) % 1000),
               x -> x * x)) AS l2sq
      FROM documents WHERE doc_id < 250
    ),
    dec AS (
      SELECT doc_id, l2sq, ntile(10) OVER (ORDER BY l2sq, doc_id) AS decile
      FROM emb
    )
    SELECT CAST(decile AS INT) AS decile, COUNT(*) AS n,
           CAST(MIN(l2sq) AS BIGINT) AS min_l2sq,
           CAST(MAX(l2sq) AS BIGINT) AS max_l2sq
    FROM dec GROUP BY decile
    """,
    tier="T3",
    survey="L9,J4,E1",
)
def l111_embed_norm_deciles(spark, sf_dir):
    """Embed face #5: the Arrow-batched encoder's integer L2² norms are
    decile-bucketed (ntile over a total order) and profiled — the
    embedding-magnitude QA report a curation pipeline runs before
    ANN indexing."""
    import hashlib

    import pandas as pd

    dim = 8

    def embed(batches):
        for pdf in batches:
            rows = []
            for d, t in zip(pdf["doc_id"], pdf["text"]):
                v = [
                    int(hashlib.md5(f"{t}|{j}".encode()).hexdigest()[:8], 16)
                    % 1000
                    for j in range(dim)
                ]
                rows.append((int(d), sum(x * x for x in v)))
            yield pd.DataFrame(rows, columns=["doc_id", "l2sq"])

    docs = (
        T(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 250)
        .select("doc_id", "text")
    )
    emb = docs.mapInPandas(embed, "doc_id long, l2sq long")
    w = Window.orderBy("l2sq", "doc_id")
    dec = emb.withColumn("decile", F.ntile(10).over(w).cast("int"))
    return dec.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("l2sq").alias("min_l2sq"),
        F.max("l2sq").alias("max_l2sq"),
    )


@query(
    "m61_two_hop_reach",
    sql="""
    WITH op AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      WHERE l_partkey <= 200
    ),
    edges AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    und AS (
      SELECT u AS node, v AS nbr FROM edges
      UNION ALL SELECT v, u FROM edges
    ),
    two_hop AS (
      SELECT a.node, b.nbr AS reach
      FROM und a JOIN und b ON a.nbr = b.node
      WHERE b.nbr <> a.node
      UNION
      SELECT node, nbr FROM und
    )
    SELECT node, COUNT(DISTINCT reach) AS reach2
    FROM two_hop GROUP BY node
    ORDER BY reach2 DESC, node LIMIT 20
    """,
    tier="T3",
    survey="L10,C10,F3",
)
def m61_two_hop_reach(spark, sf_dir):
    """2-hop neighborhood size on the bounded co-purchase graph — the
    local-influence centrality (m51 counted direct degree, m2 iterated
    PageRank): one self-join of the undirected edge list, distinct
    reach, top-20 tie-broken."""
    li = T(spark, sf_dir, "lineitem").where(F.col("l_partkey") <= 200)
    op = li.select("l_orderkey", "l_partkey").distinct()
    a = op.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = op.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    edges = (
        a.join(b, "ok").where(F.col("u") < F.col("v")).select("u", "v").distinct()
    )
    und = edges.select(F.col("u").alias("node"), F.col("v").alias("nbr")).unionAll(
        edges.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    ua = und.select(F.col("node"), F.col("nbr").alias("mid"))
    ub = und.select(F.col("node").alias("mid"), F.col("nbr").alias("reach"))
    two = (
        ua.join(ub, "mid")
        .where(F.col("reach") != F.col("node"))
        .select("node", "reach")
        .union(und.select("node", F.col("nbr").alias("reach")))
        .distinct()
    )
    return (
        two.groupBy("node")
        .agg(F.count(F.lit(1)).alias("reach2"))
        .orderBy(F.col("reach2").desc(), "node")
        .limit(20)
    )


@query(
    "m71_global_weighted_pick",
    sql=f"""
    SELECT doc_id, source, n_chars
    FROM (
      SELECT doc_id, source, n_chars,
             pow(
               CAST(CAST(concat('0x', substring(md5(concat(
                 CAST(doc_id AS VARCHAR), ':13')), 1, 8)) AS UBIGINT)
                 AS DOUBLE) / {float(1 << 32)},
               1.0 / n_chars) AS es_score
      FROM documents WHERE n_chars > 0
    )
    ORDER BY es_score DESC, doc_id LIMIT 12
    """,
    tier="T3",
    survey="L11,B8,F3",
)
def m71_global_weighted_pick(spark, sf_dir):
    """Weighted-sample face #4 — GLOBAL k=12 (no strata: the
    orderBy+limit TakeOrdered path, where m3/m52 used per-group rank
    windows): Efraimidis–Spirakis over the md5 uniform, seed 13."""
    from oeem_etl_spark.operators.splits import (
        weighted_sample_without_replacement,
    )

    docs = T(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    picked = weighted_sample_without_replacement(
        docs, key="doc_id", weight="n_chars", k=12, seed=13
    )
    return picked.select("doc_id", "source", "n_chars")


@query(
    "c61_bloom_prefilter_orders",
    sql="""
    SELECT o_orderpriority, COUNT(*) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM customer c
                  WHERE c.c_custkey = o.o_custkey AND c.c_acctbal > 9000)
    GROUP BY o_orderpriority
    """,
    tier="T2",
    survey="C11,C3,D1",
)
def c61_bloom_prefilter_orders(spark, sf_dir):
    """Bloom-pruned join face #3 (m1 pruned suppkey, c33 partkey): a
    high-balance customer bloom pre-filters the ORDERS scan before the
    semi join — the selective-dim fact-scan reduction; false positives
    die in the real join, so the oracle is the plain EXISTS."""
    from oeem_etl_spark.operators.pruning import bloom_pruned_join

    o = T(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"),
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    dim = (
        T(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") > 9000)
        .select("c_custkey")
    )
    joined = bloom_pruned_join(o, F.broadcast(dim), on="c_custkey")
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").alias("total_cents"),
    )


@query(
    "d61_grouping_sets_quarters",
    sql="""
    SELECT COALESCE(CAST(yr AS VARCHAR), 'ALL') AS yr,
           COALESCE(CAST(qtr AS VARCHAR), 'ALL') AS qtr,
           COUNT(*) AS n,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents
    FROM (SELECT year(o_orderdate) AS yr, quarter(o_orderdate) AS qtr,
                 o_totalprice
          FROM orders WHERE year(o_orderdate) IN (1995, 1996))
    GROUP BY GROUPING SETS ((yr), (yr, qtr), ())
    """,
    tier="T2",
    survey="D9,H4,D1",
)
def d61_grouping_sets_quarters(spark, sf_dir):
    """GROUPING SETS face #3 over calendar levels — (year), (year,
    quarter), grand total — with NULL group keys canonicalized to 'ALL'
    so the level structure is value-visible (d9 rolled up nations, d9c
    used raw grouping ids)."""
    o = T(spark, sf_dir, "orders").where(
        F.year("o_orderdate").isin(1995, 1996)
    )
    base = o.select(
        F.year("o_orderdate").alias("yr"),
        F.quarter("o_orderdate").alias("qtr"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    g = base.groupingSets(
        [["yr"], ["yr", "qtr"], []], "yr", "qtr"
    ).agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("cents"))
    return g.select(
        F.coalesce(F.col("yr").cast("string"), F.lit("ALL")).alias("yr"),
        F.coalesce(F.col("qtr").cast("string"), F.lit("ALL")).alias("qtr"),
        "n",
        "cents",
    )


@query(
    "i71_watermark_static_join",
    sql=f"""
    SELECT time_bucket(INTERVAL '6 hours', {_CAST_TS}) AS window_start,
           c.c_mktsegment, COUNT(*) AS cnt
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY window_start, c.c_mktsegment
    HAVING window_start + INTERVAL '6 hours'
           <= (SELECT MAX({_CAST_TS}) - INTERVAL '15 minutes' FROM events)
    """,
    tier="T3",
    survey="I4,I7,I8",
)
def i71_watermark_static_join(spark, sf_dir):
    """Watermark + stream-static join COMPOSED (i4 watermarked a bare
    agg; i7 joined without a watermark): the stream enriches against the
    broadcast customer dim, then a 15-minute watermark gates 6-hour
    windows in append mode — only closed windows emit, the trailing open
    window is withheld on both engines."""
    from oeem_etl_spark.streaming import harness, ops
    from oeem_etl_spark.streaming.source import events_stream

    sdf = ops.with_watermark(events_stream(spark, sf_dir), "15 minutes")
    dim = T(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = ops.enrich(sdf, dim, "user_id")
    out = ops.tumbling_agg(
        enriched, "6 hours", ["c_mktsegment"], [F.count(F.lit(1)).alias("cnt")]
    )
    return harness.run_available_now(out, "append")


@query(
    "k111_dedupe_then_fill",
    sql=f"""
    WITH latest AS (
      SELECT user_id, day, value FROM (
        SELECT user_id, date_trunc('day', {_CAST_TS}) AS day, value,
               row_number() OVER (PARTITION BY user_id,
                                    date_trunc('day', {_CAST_TS})
                                  ORDER BY {_CAST_TS} DESC, event_id DESC)
                 AS rn
        FROM events WHERE event_type = 'purchase'
      ) WHERE rn = 1
    ),
    span AS (
      SELECT user_id, MIN(day) AS mn, MAX(day) AS mx FROM latest
      GROUP BY user_id
    ),
    grid AS (
      SELECT user_id, unnest(generate_series(mn, mx, INTERVAL '1 day'))
               AS day
      FROM span
    ),
    filled AS (
      SELECT g.user_id, g.day,
             last_value(l.value IGNORE NULLS)
               OVER (PARTITION BY g.user_id ORDER BY g.day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS value
      FROM grid g LEFT JOIN latest l USING (user_id, day)
    )
    SELECT user_id, CAST(epoch_us(day) AS BIGINT) AS day_us,
           ROUND(value, 6) AS value
    FROM filled
    """,
    tier="T2",
    survey="K5,K4,D12",
)
def k111_dedupe_then_fill(spark, sf_dir):
    """Dedupe-then-fill fused (the reference's meter-series cleanup in
    one pass): keep-latest purchase per (user, day), then materialize
    the user's full daily span with forward-fill — K5's winner rule
    feeding K4's dense grid, where k37's face composed dedupe with
    interpolation instead."""
    from oeem_etl_spark.operators.relational import dedupe_keep_latest_by
    from oeem_etl_spark.operators.timeseries import fill_gaps

    ev = T(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    daily = ev.select(
        "user_id",
        F.date_trunc("day", F.col("ts")).alias("day"),
        "value",
        "ts",
        "event_id",
    )
    latest = dedupe_keep_latest_by(
        daily, ["user_id", "day"], ["ts", "event_id"]
    ).select("user_id", "day", "value")
    filled = fill_gaps(latest, ["user_id"], "day", "value", freq="day")
    return filled.select(
        "user_id",
        F.unix_micros("day").alias("day_us"),
        F.round("value", 6).alias("value"),
    )


@query(
    "k121_session_value_totals",
    sql=f"""
    WITH o AS (
      SELECT user_id, {_CAST_TS} AS ts,
             CAST(round(value * 1000000) AS BIGINT) AS vm,
             lag({_CAST_TS}) OVER (PARTITION BY user_id
                                   ORDER BY {_CAST_TS}, event_id) AS prev
      FROM events
    ),
    s AS (
      SELECT user_id, vm,
             SUM(CASE WHEN prev IS NULL
                       OR epoch_us(ts) - epoch_us(prev) > 1800000000
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sess
      FROM o
    ),
    per AS (SELECT user_id, sess, SUM(vm) AS sess_m FROM s
            GROUP BY user_id, sess)
    SELECT user_id, COUNT(*) AS n_sessions,
           CAST(MAX(sess_m) AS BIGINT) AS max_session_micros
    FROM per GROUP BY user_id
    """,
    tier="T2",
    survey="K11,E2,E3",
)
def k121_session_value_totals(spark, sf_dir):
    """Sessionization face #5 — per-session VALUE totals (k73 counted
    events; every other face counted or bounded): 30-minute gap sessions
    carry exact micros sums, reporting each user's session count and
    richest session."""
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "user_id",
        "ts",
        F.round(F.col("value") * 1_000_000).cast("long").alias("vm"),
        F.lag("ts").over(w).alias("prev"),
    )
    boundary = (
        F.col("prev").isNull()
        | (F.col("ts") > F.col("prev") + F.expr("INTERVAL 30 MINUTES"))
    ).cast("int")
    wrun = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s = o.select("user_id", "vm", F.sum(boundary).over(wrun).alias("sess"))
    per = s.groupBy("user_id", "sess").agg(F.sum("vm").alias("sess_m"))
    return per.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.max("sess_m").alias("max_session_micros"),
    )


@query(
    "l121_soft_disjunctive_search",
    sql="""
    WITH post AS (
      SELECT doc_id, unnest(str_split(lower(text), ' ')) AS term
      FROM documents
    ),
    hits AS (
      SELECT doc_id,
             COUNT(DISTINCT term) AS n_terms,
             COUNT(*) AS n_occurrences
      FROM post WHERE term IN ('data', 'hash', 'index')
      GROUP BY doc_id
    )
    SELECT doc_id, CAST(n_terms AS BIGINT) AS n_terms, n_occurrences
    FROM hits WHERE n_terms >= 2
    """,
    tier="T3",
    survey="L12,D10,H9",
)
def l121_soft_disjunctive_search(spark, sf_dir):
    """Inverted-index face #3 — SOFT DISJUNCTION (match >= 2 of 3 query
    terms; l71 required ALL terms, l70 matched a phrase): the same
    pushed-down IN-list + one hash aggregate, with the HAVING threshold
    turning AND into m-of-n."""
    from oeem_etl_spark.operators import search

    docs = T(spark, sf_dir, "documents")
    p = search.build_postings(docs)
    hits = (
        p.where(F.col("term").isin("data", "hash", "index"))
        .groupBy("doc_id")
        .agg(
            F.count_distinct("term").alias("n_terms"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
    )
    return hits.where(F.col("n_terms") >= 2).select(
        "doc_id", "n_terms", "n_occurrences"
    )
