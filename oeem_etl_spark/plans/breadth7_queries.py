"""Seventh-face COMBO queries — the round-8 rotation reserve.

After r7's driver sweep certifies the current all-fresh 50-prefix, 27
tags drop to ZERO never-driver-checked providers (simulated against the
ledger at authoring: A3 A4 A9 A10 B7 C6 D7 G3 H10-H13 I1 I2 I4-I7 J6
K1 K2 K7 K8 L6 L9 L10 L11). Each query here is one coherent pipeline
re-covering a bundle of those rows with NEW semantics (the combo
discipline of breadth3-6), so round 8 rotates fresh again without an
authoring pass. Same oracle discipline as the rest of the registry;
streaming drains use the availableNow harness, value math is exact."""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import Window
from pyspark.sql import functions as F

from oeem_etl_spark.catalog import local_frame
from oeem_etl_spark.plans.registry import query
from oeem_etl_spark.plans.util import T, dsum, sql_dsum

_TMP = os.path.join(
    tempfile.gettempdir(), f"oeem_etl_spark_breadth7_{os.getpid()}"
)

_CAST_TS = "CAST(ts AS TIMESTAMP)"


# ---------------------------------------------------------------------------
# i60: A9 stream source + I4 watermark + I7 stream-static + I1 tumbling +
#      A10 foreachBatch sink
# ---------------------------------------------------------------------------


@query(
    "i60_stream_segment_funnel",
    sql=f"""
    SELECT time_bucket(INTERVAL '12 hours', {_CAST_TS}) AS window_start,
           c.c_mktsegment, COUNT(*) AS cnt, {sql_dsum("e.value", "sum_value")}
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY window_start, c.c_mktsegment
    HAVING window_start + INTERVAL '12 hours'
           <= (SELECT MAX({_CAST_TS}) - INTERVAL '10 minutes' FROM events)
    """,
    tier="T2",
    survey="I1,I4,I7,A9,A10",
)
def i60_stream_segment_funnel(spark, sf_dir):
    """The full streaming funnel in ONE query: file-source events stream
    (A9), 10-minute watermark (I4), broadcast stream-static enrichment
    with the customer segment (I7), 12-hour tumbling rollup (I1) in
    APPEND mode — only watermark-closed windows emit — draining through
    a foreachBatch parquet sink that is read back for verification
    (A10). The oracle replays the whole funnel with the closed-window
    HAVING mirror of the watermark cut."""
    from oeem_etl_spark.streaming import harness, ops
    from oeem_etl_spark.streaming.source import events_stream

    sdf = ops.with_watermark(events_stream(spark, sf_dir), "10 minutes")
    dim = T(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = ops.enrich(sdf, dim, "user_id")
    out = ops.tumbling_agg(
        enriched,
        "12 hours",
        ["c_mktsegment"],
        [F.count(F.lit(1)).alias("cnt"), dsum("value", "sum_value")],
    )
    path = os.path.join(_TMP, f"i60_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(path, ignore_errors=True)
    harness.foreach_batch_to_parquet(out, path)
    return spark.read.parquet(path)


# ---------------------------------------------------------------------------
# i63: I5 streaming dedup feeding I2 sliding windows, update-mode drain
# ---------------------------------------------------------------------------


@query(
    "i63_dedup_sliding_sessions",
    sql=f"""
    WITH d AS (
      SELECT DISTINCT user_id, event_type,
             time_bucket(INTERVAL '2 hours', {_CAST_TS}) AS bk
      FROM events
    ),
    cand AS (
      SELECT unnest([bk, bk - INTERVAL '2 hours']) AS window_start,
             event_type
      FROM d
    )
    SELECT window_start, event_type, COUNT(*) AS active_keys
    FROM cand GROUP BY window_start, event_type
    """,
    tier="T2",
    survey="I2,I5,I8",
)
def i63_dedup_sliding_sessions(spark, sf_dir):
    """Streaming dedup chained into a SLIDING rollup, drained in UPDATE
    mode (i41 walks the 1-hour complete-mode face): (user, type,
    2h-bucket) triples dedup as they arrive (I5 state), 4h/2h sliding
    windows count deduped active keys per type (I2), and the update-mode
    drain keeps each (window, type)'s final — highest — emission (I8),
    which must equal the batch aggregate."""
    from oeem_etl_spark.streaming import harness, ops
    from oeem_etl_spark.streaming.source import events_stream

    sdf = events_stream(spark, sf_dir).select(
        "user_id",
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("hr"),
        F.col("ts"),
    ).withColumn(
        "bk", F.expr("timestampadd(HOUR, -(hour(ts) % 2), date_trunc('hour', ts))")
    )
    deduped = ops.dedup_keys(
        sdf.select("user_id", "event_type", "bk"),
        ["user_id", "event_type", "bk"],
    )
    out = ops.sliding_agg(
        deduped,
        "4 hours",
        "2 hours",
        ["event_type"],
        [F.count(F.lit(1)).alias("active_keys")],
        ts_col="bk",
    )
    drained = harness.run_available_now(out, "update")
    w = Window.partitionBy("window_start", "event_type").orderBy(
        F.col("active_keys").desc()
    )
    return (
        drained.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# i62: I6 arbitrary per-key state — last-write tracker
# ---------------------------------------------------------------------------


@query(
    "i62_stream_last_write",
    sql=f"""
    SELECT user_id, {_CAST_TS} AS last_ts, ROUND(value, 6) AS last_value
    FROM (
      SELECT user_id, ts, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events WHERE user_id <= 150
    ) WHERE rn = 1 ORDER BY user_id
    """,
    tier="T2",
    survey="I6,D4",
)
def i62_stream_last_write(spark, sf_dir):
    """Per-key LAST-WRITE state machine (streaming/ops.latest_state, the
    CDC 'current value per meter' shape): applyInPandasWithState keeps
    (ts, id, micros) per user — three scalars, idempotent under replay,
    (ts, event_id)-lexicographic winner — in update mode; the final
    emission per key must equal the batch arg_max exactly (i6 tracks
    running totals; this face tracks the latest observation)."""
    from oeem_etl_spark.streaming import harness, ops
    from oeem_etl_spark.streaming.source import events_stream

    sdf = events_stream(spark, sf_dir).where(F.col("user_id") <= 150)
    updates = ops.latest_state(sdf)
    # Drain through the batch-ordinal capture sink: the final emission per
    # key is the LAST batch's row (max _batch_id), which stays correct even
    # if the source drains in several micro-batches where a payload-column
    # tiebreak would not (the op's winner is max(ts, event_id), not
    # max(ts, value)).
    path = os.path.join(_TMP, f"i62_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(path, ignore_errors=True)
    harness.foreach_batch_capture(updates, path)
    drained = spark.read.parquet(path)
    w = Window.partitionBy("user_id").orderBy(F.col("_batch_id").desc())
    return (
        drained.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn", "_batch_id")
        .select(
            "user_id",
            F.col("last_ts").cast("timestamp_ntz").alias("last_ts"),
            F.round("last_value", 6).alias("last_value"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# a56: A3 json scan + A4 text scan + K2 parse_timestamps + K1 standardize +
#      B7 drop
# ---------------------------------------------------------------------------


@query(
    "a56_json_text_log_union",
    sql="""
    WITH js AS (
      SELECT doc_id, lang, 'json' AS feed FROM documents WHERE doc_id <= 400
    ),
    logs AS (
      SELECT o_orderkey + 1000000 AS doc_id, 'log' AS lang, 'text' AS feed
      FROM orders WHERE o_orderkey <= 200
    ),
    unioned AS (SELECT * FROM js UNION ALL SELECT * FROM logs)
    SELECT feed, lang, COUNT(*) AS n
    FROM unioned GROUP BY feed, lang ORDER BY feed, lang
    """,
    tier="T2",
    survey="A3,A4,K1,K2,B7,G1",
)
def a56_json_text_log_union(spark, sf_dir):
    """Two raw feeds through the parse stage (a44/a46 walk them singly):
    a JSON-lines extract of documents is written and scanned back (A3),
    an order log is written as RAW TEXT lines ('<key>|<date>|msg') and
    scanned line-wise (A4), each line regex-parsed with its timestamp
    recovered by strptime (K2), both feeds standardized to one canonical
    (doc_id, lang, feed) schema (K1) with the payload/parse columns
    dropped (B7), unioned, and rolled up. The timestamp parse is
    VERIFIED in-pipeline: an unparseable date would abort under ANSI."""
    from oeem_etl_spark.operators.timeseries import standardize_schema

    root = os.path.join(_TMP, f"a56_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(root, ignore_errors=True)
    jdir, tdir = os.path.join(root, "json"), os.path.join(root, "text")

    docs = T(spark, sf_dir, "documents").where(F.col("doc_id") <= 400)
    docs.select("doc_id", "lang", "source").write.mode("overwrite").json(jdir)
    # raw-feed posture: all-string schema, K1 standardize does the casts
    js_raw = spark.read.schema(
        "doc_id string, lang string, source string"
    ).json(jdir)
    js = standardize_schema(
        js_raw,
        {
            "doc_id": ("doc_id", "long"),
            "lang": ("lang", None),
        },
    ).withColumn("feed", F.lit("json"))

    orders = T(spark, sf_dir, "orders").where(F.col("o_orderkey") <= 200)
    lines = orders.select(
        F.concat_ws(
            "|",
            F.col("o_orderkey").cast("string"),
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss"),
            F.lit("order-ingested"),
        ).alias("value")
    )
    lines.write.mode("overwrite").text(tdir)
    t_raw = spark.read.text(tdir)
    parsed = t_raw.select(
        F.regexp_extract("value", r"^(\d+)\|([^|]+)\|(.*)$", 1)
        .cast("long")
        .alias("key"),
        F.to_timestamp(
            F.regexp_extract("value", r"^(\d+)\|([^|]+)\|(.*)$", 2),
            "yyyy-MM-dd HH:mm:ss",
        ).alias("parsed_ts"),
        F.regexp_extract("value", r"^(\d+)\|([^|]+)\|(.*)$", 3).alias("msg"),
    )
    # the parse is load-bearing: a NULL parsed_ts would mean strptime lost
    # a line — filter loudly rather than silently coerce
    logs = (
        parsed.where(F.col("parsed_ts").isNotNull())
        .withColumn("doc_id", F.col("key") + 1_000_000)
        .withColumn("lang", F.lit("log"))
        .withColumn("feed", F.lit("text"))
        .drop("parsed_ts", "msg", "key")  # B7: payload/parse columns dropped
    )
    unioned = js.unionByName(logs)
    return (
        unioned.groupBy("feed", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("feed", "lang")
    )


# ---------------------------------------------------------------------------
# h70: H10 map + H11 struct + H12 json + H13 try_* + G3 intersect
# ---------------------------------------------------------------------------


@query(
    "h70_props_map_struct_audit",
    sql="""
    WITH both_kinds AS (
      SELECT user_id FROM events WHERE event_type = 'view'
      INTERSECT
      SELECT user_id FROM events WHERE event_type = 'purchase'
    ),
    ev AS (
      SELECT e.user_id, e.event_id, e.event_type,
             CAST(json_extract_string(e.props, '$.k') AS BIGINT) AS k
      FROM events e JOIN both_kinds USING (user_id)
      WHERE e.user_id <= 150
    ),
    flagged AS (
      SELECT *,
             k // 2 AS half,
             CASE WHEN user_id % 3 = 0 THEN NULL
                  ELSE ROUND(CAST(k AS DOUBLE) / (user_id % 3), 6) END AS safe,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY k DESC, event_id DESC) AS rn
      FROM ev
    )
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(k) AS BIGINT) AS sum_k,
           CAST(SUM(half) AS BIGINT) AS sum_half,
           MAX(CASE WHEN rn = 1 THEN event_type END) AS top_type,
           CAST(COUNT(*) - COUNT(safe) AS BIGINT) AS n_div_null
    FROM flagged GROUP BY user_id ORDER BY user_id
    """,
    tier="T2",
    survey="H10,H11,H12,H13,G3",
)
def h70_props_map_struct_audit(spark, sf_dir):
    """The semi-structured function families fused over the props feed:
    users active in BOTH view and purchase come from a set INTERSECT
    (G3); each event's props parses through from_json into a typed
    struct (H12); a per-row map {'k','half'} is built and read back via
    element_at (H10); the per-user top event is a lexicographic max_by
    over a (k, event_id, type) STRUCT (H11); and the ANSI-safe variants
    try_divide/try_cast supply the guarded ratio (H13). The oracle
    restates every value in plain SQL — the Spark side must recover them
    through the map/struct/json surfaces."""
    ev = T(spark, sf_dir, "events")
    both = (
        ev.where(F.col("event_type") == "view")
        .select("user_id")
        .intersect(
            ev.where(F.col("event_type") == "purchase").select("user_id")
        )
    )
    base = (
        ev.where(F.col("user_id") <= 150)
        .join(both, "user_id")
        .withColumn("j", F.from_json("props", "k bigint"))
        .withColumn("k", F.col("j.k"))
    )
    m = F.create_map(
        F.lit("k"), F.col("k"), F.lit("half"), F.expr("k DIV 2")
    )
    flagged = base.select(
        "user_id",
        "event_id",
        "event_type",
        "k",
        F.element_at(m, "half").alias("half"),
        F.round(
            F.try_divide(F.col("k").cast("double"), F.col("user_id") % 3), 6
        ).alias("safe"),
    )
    top = F.max_by(
        F.col("event_type"), F.struct("k", "event_id")
    ).alias("top_type")
    return (
        flagged.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").cast("long").alias("sum_k"),
            F.sum("half").cast("long").alias("sum_half"),
            top,
            (F.count(F.lit(1)) - F.count("safe"))
            .cast("long")
            .alias("n_div_null"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# k123: C6 range join (period assignment) + K7 + K8 normalize + D7
#       histogram percentile per period
# ---------------------------------------------------------------------------

_K123_W = 10_000_000  # histogram bucket width in integer micros


def _k123_sql() -> str:
    def pcol(p: int, name: str) -> str:
        tgt = f"((n * {p} + 99) // 100)"
        return (
            f"ROUND(CAST(MAX(CASE WHEN cb < {tgt} AND cum >= {tgt}"
            f" THEN b * {_K123_W} + (({tgt} - cb) * {_K123_W}) // cnt"
            f" END) AS DOUBLE) / 1000000, 6) AS {name}"
        )

    return f"""
    WITH periods(label, p_start, p_end) AS (VALUES
      ('baseline', TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-10'),
      ('blackout', TIMESTAMP '2024-01-10', TIMESTAMP '2024-01-20'),
      ('reporting', TIMESTAMP '2024-01-20', TIMESTAMP '2024-12-31')),
    conv(event_type, factor) AS (VALUES
      ('view', 0.001), ('click', 1.0), ('purchase', 29.3001),
      ('signup', 1.0), ('error', 0.0)),
    aligned AS (
      SELECT p.label, e.value * c.factor AS kwh
      FROM events e
      JOIN periods p ON {_CAST_TS} >= p.p_start AND {_CAST_TS} < p.p_end
      JOIN conv c USING (event_type)
    ),
    vm AS (
      SELECT label, CAST(round(kwh * 1000000) AS BIGINT) AS vm FROM aligned
      WHERE kwh IS NOT NULL
    ),
    bk AS (SELECT label, vm // {_K123_W} AS b, COUNT(*) AS cnt
           FROM vm GROUP BY label, b),
    cm AS (SELECT label, b, cnt,
                  SUM(cnt) OVER (PARTITION BY label ORDER BY b) AS cum,
                  SUM(cnt) OVER (PARTITION BY label) AS n
           FROM bk),
    est AS (SELECT label, n, b, cnt, cum, cum - cnt AS cb FROM cm)
    SELECT label, CAST(MAX(n) AS BIGINT) AS n,
           {pcol(50, 'p50')},
           {pcol(95, 'p95')}
    FROM est GROUP BY label ORDER BY label
    """


@query(
    "k123_period_normalized_percentiles",
    sql=_k123_sql(),
    tier="T2",
    survey="K7,K8,C6,D7,D1",
)
def k123_period_normalized_percentiles(spark, sf_dir):
    """Project-period analytics end to end: every event lands in its
    period by a RANGE join on [start, end) boundaries (C6 — the
    interval-alignment face of K7; k7's as-of walks open-ended
    boundaries), units normalize through the broadcast factor table
    (K8), and per period the kWh distribution reports n/p50/p95 via the
    deterministic fixed-width-histogram percentile (D7 — d7b's
    verifiable member: integer-micros buckets, cumulative counts,
    ceil-rank interpolation; all integer until display)."""
    ev = T(spark, sf_dir, "events")
    periods = local_frame(
        spark,
        [
            ("baseline", "2024-01-01", "2024-01-10"),
            ("blackout", "2024-01-10", "2024-01-20"),
            ("reporting", "2024-01-20", "2024-12-31"),
        ],
        "label string, s string, e string",
    ).select(
        "label",
        F.col("s").cast("timestamp").alias("p_start"),
        F.col("e").cast("timestamp").alias("p_end"),
    )
    conv = local_frame(
        spark,
        [
            ("view", 0.001),
            ("click", 1.0),
            ("purchase", 29.3001),
            ("signup", 1.0),
            ("error", 0.0),
        ],
        "event_type string, factor double",
    )
    aligned = (
        ev.join(
            F.broadcast(periods),
            (F.col("ts") >= F.col("p_start")) & (F.col("ts") < F.col("p_end")),
        )
        .join(F.broadcast(conv), "event_type")
        .select("label", (F.col("value") * F.col("factor")).alias("kwh"))
        .where(F.col("kwh").isNotNull())
    )
    vm = F.round(F.col("kwh") * 1_000_000).cast("long")
    bk = (
        aligned.select("label", vm.alias("vm"))
        .withColumn("b", F.expr(f"vm DIV {_K123_W}"))
        .groupBy("label", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w_ord = Window.partitionBy("label").orderBy("b")
    w_all = Window.partitionBy("label")
    cm = bk.select(
        "label",
        "b",
        "cnt",
        F.sum("cnt").over(w_ord).alias("cum"),
        F.sum("cnt").over(w_all).alias("n"),
    ).withColumn("cb", F.col("cum") - F.col("cnt"))

    def pcol(p: int, name: str):
        tgt = F.expr(f"(n * {p} + 99) DIV 100")
        est = F.col("b") * _K123_W + F.expr(
            f"(((n * {p} + 99) DIV 100) - cb) * {_K123_W} DIV cnt"
        )
        hit = (F.col("cb") < tgt) & (F.col("cum") >= tgt)
        return F.round(
            F.max(F.when(hit, est)).cast("double") / 1_000_000, 6
        ).alias(name)

    return (
        cm.groupBy("label")
        .agg(
            F.max("n").cast("long").alias("n"),
            pcol(50, "p50"),
            pcol(95, "p95"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# l80: L6 tf-idf keyword + L9 md5-projection embedding of the keyword
# ---------------------------------------------------------------------------


@query(
    "l80_keyword_embed",
    sql="""
    WITH tf AS (
      SELECT doc_id, tok AS term, COUNT(*) AS tf FROM (
        SELECT doc_id, unnest(str_split(text, ' ')) AS tok FROM documents
      ) GROUP BY doc_id, tok
    ), dfreq AS (
      SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents),
    kw AS (
      SELECT doc_id, term FROM (
        SELECT tf.doc_id, tf.term,
               row_number() OVER (
                 PARTITION BY tf.doc_id
                 ORDER BY ROUND(CAST(tf.tf AS DOUBLE)
                       * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df), 6) DESC,
                          tf.term) AS rnk
        FROM tf JOIN dfreq USING (term) CROSS JOIN n
        WHERE tf.doc_id < 40
      ) WHERE rnk = 1
    ),
    emb AS (
      SELECT doc_id, term,
             list_transform(generate_series(0, 7), j ->
               CAST(concat('0x', substr(md5(term || '|' || CAST(j AS VARCHAR)),
                                        1, 8)) AS UBIGINT) % 1000) AS v
      FROM kw
    )
    SELECT doc_id, term,
           CAST(list_sum(v) AS DOUBLE) / 1000.0 AS norm1,
           CAST(v[1] AS DOUBLE) / 1000.0 AS f0
    FROM emb ORDER BY doc_id
    """,
    tier="T2",
    survey="L6,L9,J4,E5",
)
def l80_keyword_embed(spark, sf_dir):
    """Keyword extraction feeding the embedding surface (the 'embed the
    salient term, not the whole doc' pipeline): raw tf-idf picks each
    document's top keyword (L6, 6dp-rounded weight before the
    engine-stable rank cut), then the Arrow-batched mapInPandas encoder
    embeds the KEYWORD with the md5 projection (L9/J4 — the l9b contract:
    swap the hash for a model call and nothing changes). Components are
    integer md5 arithmetic, so the oracle reproduces every value."""
    import hashlib

    import pandas as pd

    from oeem_etl_spark.operators import text

    docs = T(spark, sf_dir, "documents")
    raw = text.tf_idf(docs, "doc_id", "text").where(F.col("doc_id") < 40)
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term")
    )
    kw = (
        raw.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") == 1)
        .select("doc_id", "term")
    )

    dim = 8

    def embed(batches):
        for pdf in batches:
            vs = [
                [
                    int(hashlib.md5(f"{t}|{j}".encode()).hexdigest()[:8], 16)
                    % 1000
                    for j in range(dim)
                ]
                for t in pdf["term"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "term": pdf["term"],
                    "norm1": [sum(v) / 1000.0 for v in vs],
                    "f0": [v[0] / 1000.0 for v in vs],
                }
            )

    return kw.mapInPandas(
        embed, "doc_id long, term string, norm1 double, f0 double"
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# l84: J6 UDTF tokenizer + L10 bipartite degree + L11 weighted sample
# ---------------------------------------------------------------------------


from oeem_etl_spark.operators.splits import sql_hash_uniform  # noqa: E402


@query(
    "l84_udtf_term_degree_sample",
    sql=f"""
    WITH dt AS (
      SELECT DISTINCT doc_id, tok AS term FROM (
        SELECT doc_id, unnest(str_split(text, ' ')) AS tok
        FROM documents WHERE doc_id < 60
      )
    ),
    deg AS (SELECT term, COUNT(*) AS degree FROM dt GROUP BY term),
    scored AS (
      SELECT term, degree,
             pow({sql_hash_uniform('term', seed=17)},
                 1.0 / CAST(degree AS DOUBLE)) AS score
      FROM deg WHERE degree > 0
    )
    SELECT term, CAST(degree AS BIGINT) AS degree
    FROM scored ORDER BY score DESC, term ASC LIMIT 10
    """,
    tier="T2",
    survey="J6,L10,L11,B8",
)
def l84_udtf_term_degree_sample(spark, sf_dir):
    """User-extension tokenization feeding graph + sampling: a Python
    UDTF parses each document into terms via SQL LATERAL (J6 — the
    raw-payload parser surface), the doc-term bipartite degree (number
    of documents containing the term) is the centrality measure (L10's
    single-pass face), and a degree-weighted Efraimidis-Spirakis top-10
    (L11, md5-uniform seed 17 — deterministic and engine-portable)
    samples the vocabulary. Ties fully broken by (score, term)."""
    from pyspark.sql.functions import udtf

    from oeem_etl_spark.operators.splits import (
        weighted_sample_without_replacement,
    )

    @udtf(returnType="term string")
    class TokenizeTerms:
        def eval(self, text: str):
            for t in (text or "").split(" "):
                yield (t,)

    spark.udtf.register("oeem_l84_terms", TokenizeTerms)
    T(spark, sf_dir, "documents").where(F.col("doc_id") < 60).select(
        "doc_id", "text"
    ).createOrReplaceTempView("l84_docs")
    dt = spark.sql(
        """
        SELECT DISTINCT d.doc_id, t.term
        FROM l84_docs d, LATERAL oeem_l84_terms(d.text) t
        """
    )
    deg = dt.groupBy("term").agg(F.count(F.lit(1)).alias("degree"))
    sampled = weighted_sample_without_replacement(
        deg, "term", "degree", k=10, seed=17
    )
    return sampled.select(
        "term", F.col("degree").cast("long").alias("degree")
    )
