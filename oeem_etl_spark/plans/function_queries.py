"""Declared scalar-function-family and UDF-surface queries
(SURVEY.md §2.H, §2.J).

One query per family, exercising several functions each, on the
``documents`` / ``events`` / ``lineitem`` fixtures. UDF-surface queries
(J1–J5, J7) compute SQL-expressible semantics through the Python surface so
the oracle still hash-checks them end to end.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from oeem_etl_spark.functions import udfs, vector
from oeem_etl_spark.operators.relational import dedupe_keep_latest_by
from oeem_etl_spark.plans.registry import query
from oeem_etl_spark.plans.util import T, dsum, sql_dsum

# ---------------------------------------------------------------------------
# 2.H scalar families
# ---------------------------------------------------------------------------


@query(
    "h1_string_funcs",
    sql="""
    SELECT doc_id,
           concat_ws('-', lang, source) AS tag,
           upper(substring(text, 1, 12)) AS head_up,
           length(text) AS len,
           lpad(CAST(doc_id AS VARCHAR), 8, '0') AS padded,
           replace(substring(text, 1, 20), ' ', '_') AS underscored,
           strpos(text, 'q') AS q_pos,
           starts_with(text, 'a') AS starts_a,
           contains(text, 'zz') AS has_zz,
           trim(concat('  ', lang, '  ')) AS trimmed
    FROM documents WHERE doc_id <= 200
    """,
    tier="T1",
    survey="H1",
)
def h1_string_funcs(spark, sf_dir):
    d = T(spark, sf_dir, "documents").where(F.col("doc_id") <= 200)
    return d.select(
        "doc_id",
        F.concat_ws("-", "lang", "source").alias("tag"),
        F.upper(F.substring("text", 1, 12)).alias("head_up"),
        F.length("text").alias("len"),
        F.lpad(F.col("doc_id").cast("string"), 8, "0").alias("padded"),
        F.replace(F.substring("text", 1, 20), F.lit(" "), F.lit("_")).alias(
            "underscored"
        ),
        F.instr("text", "q").alias("q_pos"),
        F.startswith("text", F.lit("a")).alias("starts_a"),
        F.contains("text", F.lit("zz")).alias("has_zz"),
        F.trim(F.concat(F.lit("  "), F.col("lang"), F.lit("  "))).alias("trimmed"),
    )


@query(
    "h2_regex_funcs",
    sql="""
    SELECT doc_id,
           regexp_extract(text, '([a-z]{5,})', 1) AS first_long_tok,
           regexp_replace(substring(text, 1, 30), '[aeiou]', '*', 'g') AS devoweled,
           array_length(regexp_extract_all(text, 'ab')) AS n_ab,
           regexp_matches(lang, '^(en|de)$') AS is_ende
    FROM documents WHERE doc_id <= 200
    """,
    tier="T2",
    survey="H2",
)
def h2_regex_funcs(spark, sf_dir):
    """POSIX-safe regex patterns only (dialects agree on these)."""
    d = T(spark, sf_dir, "documents").where(F.col("doc_id") <= 200)
    return d.select(
        "doc_id",
        F.regexp_extract("text", r"([a-z]{5,})", 1).alias("first_long_tok"),
        F.regexp_replace(F.substring("text", 1, 30), r"[aeiou]", "*").alias(
            "devoweled"
        ),
        F.regexp_count("text", F.lit("ab")).alias("n_ab"),
        F.col("lang").rlike(r"^(en|de)$").alias("is_ende"),
    )


@query(
    "h3_fuzzy_string",
    sql="""
    SELECT a.c_custkey,
           levenshtein(a.c_name, b.c_name) AS name_dist
    FROM customer a JOIN customer b ON b.c_custkey = a.c_custkey + 1
    WHERE a.c_custkey <= 300
    """,
    tier="T3",
    survey="H3,C10",
)
def h3_fuzzy_string(spark, sf_dir):
    c = T(spark, sf_dir, "customer")
    a = c.alias("a").where(F.col("c_custkey") <= 300)
    b = c.alias("b")
    return a.join(b, F.col("b.c_custkey") == F.col("a.c_custkey") + 1).select(
        F.col("a.c_custkey").alias("c_custkey"),
        F.levenshtein(F.col("a.c_name"), F.col("b.c_name")).alias("name_dist"),
    )


@query(
    "h4_datetime_funcs",
    sql="""
    SELECT o_orderkey,
           year(o_orderdate) AS y,
           month(o_orderdate) AS m,
           day(o_orderdate) AS d,
           quarter(o_orderdate) AS q,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
           date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since,
           CAST(CAST(o_orderdate + INTERVAL 5 DAY AS DATE) AS TIMESTAMP) AS plus5,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS eom,
           CAST(make_date(year(o_orderdate), month(o_orderdate), 1) AS TIMESTAMP) AS month_first
    FROM orders WHERE o_orderkey <= 500
    """,
    tier="T1",
    survey="H4",
)
def h4_datetime_funcs(spark, sf_dir):
    """Calendar functions restricted to the engine-agreeing subset
    (dayofweek/weekofyear conventions differ — excluded per §7.4)."""
    o = T(spark, sf_dir, "orders").where(F.col("o_orderkey") <= 500)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        F.dayofmonth("o_orderdate").alias("d"),
        F.quarter("o_orderdate").alias("q"),
        # Date-valued outputs surface as TIMESTAMP_NTZ on both engines:
        # Spark DateType materializes as pandas `object` (datetime.date)
        # while DuckDB DATE gives datetime64[us] — a driver-hash dtype
        # flap. timestamp_ntz == datetime64[us] on both sides.
        F.date_trunc("month", "o_orderdate").cast("timestamp_ntz").alias("month_start"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")).alias(
            "days_since"
        ),
        (F.col("o_orderdate") + F.expr("INTERVAL 5 DAY"))
        .cast("date").cast("timestamp_ntz").alias("plus5"),
        F.last_day(F.col("o_orderdate").cast("date")).cast("timestamp_ntz").alias("eom"),
        F.make_date(F.year("o_orderdate"), F.month("o_orderdate"), F.lit(1))
        .cast("timestamp_ntz").alias("month_first"),
    )


@query(
    "h5_math_funcs",
    sql="""
    SELECT l_orderkey, l_linenumber,
           abs(l_discount - 0.05) AS abs_d,
           round(l_extendedprice / 7, 2) AS div7,
           CAST(ceil(l_quantity) AS BIGINT) AS cq,
           CAST(floor(l_quantity) AS BIGINT) AS fq,
           round(exp(l_discount), 6) AS e_d,
           round(ln(l_extendedprice), 6) AS ln_p,
           round(log10(l_extendedprice), 6) AS log_p,
           round(pow(l_quantity, 2), 6) AS qty_sq,
           round(sqrt(l_extendedprice), 6) AS sqrt_p,
           CAST(sign(l_discount - 0.05) AS DOUBLE) AS sgn,
           greatest(l_quantity, l_discount * 100) AS gr,
           least(l_tax, l_discount) AS le,
           round(sin(l_quantity), 6) AS sin_q
    FROM lineitem WHERE l_orderkey <= 200
    """,
    tier="T1",
    survey="H5",
)
def h5_math_funcs(spark, sf_dir):
    """Math battery; transcendentals rounded to 6dp (libm ulp differences)."""
    li = T(spark, sf_dir, "lineitem").where(F.col("l_orderkey") <= 200)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_discount") - 0.05).alias("abs_d"),
        F.round(F.col("l_extendedprice") / 7, 2).alias("div7"),
        F.ceil("l_quantity").alias("cq"),
        F.floor("l_quantity").alias("fq"),
        F.round(F.exp("l_discount"), 6).alias("e_d"),
        F.round(F.log("l_extendedprice"), 6).alias("ln_p"),
        F.round(F.log10("l_extendedprice"), 6).alias("log_p"),
        F.round(F.pow("l_quantity", F.lit(2)), 6).alias("qty_sq"),
        F.round(F.sqrt("l_extendedprice"), 6).alias("sqrt_p"),
        F.signum(F.col("l_discount") - 0.05).alias("sgn"),
        F.greatest(F.col("l_quantity"), F.col("l_discount") * 100).alias("gr"),
        F.least(F.col("l_tax"), F.col("l_discount")).alias("le"),
        F.round(F.sin("l_quantity"), 6).alias("sin_q"),
    )


@query(
    "h6_hash_funcs",
    sql="SELECT doc_id, md5(text) AS text_md5 FROM documents WHERE doc_id <= 300",
    tier="T2",
    survey="H6",
)
def h6_hash_funcs(spark, sf_dir):
    """md5 agrees across engines; xxhash64/sha2 are engine-internal (used
    by the dedup operators, verified by unit fixtures instead)."""
    d = T(spark, sf_dir, "documents").where(F.col("doc_id") <= 300)
    return d.select("doc_id", F.md5("text").alias("text_md5"))


@query(
    "h7_array_funcs",
    sql="""
    SELECT vec_id,
           array_length(embedding) AS dim,
           embedding[1] AS first_v,
           embedding[64] AS last_v,
           list_max(embedding) AS max_v,
           list_min(embedding) AS min_v,
           list_max(embedding[1:8]) AS max_head,
           list_position(embedding, list_max(embedding)) AS argmax_1based
    FROM embeddings WHERE vec_id <= 300
    """,
    tier="T2",
    survey="H7",
)
def h7_array_funcs(spark, sf_dir):
    e = T(spark, sf_dir, "embeddings").where(F.col("vec_id") <= 300)
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.element_at("embedding", 1).alias("first_v"),
        F.element_at("embedding", 64).alias("last_v"),
        F.array_max("embedding").alias("max_v"),
        F.array_min("embedding").alias("min_v"),
        F.array_max(F.slice("embedding", 1, 8)).alias("max_head"),
        F.array_position(F.col("embedding"), F.array_max("embedding")).alias(
            "argmax_1based"
        ),
    )


@query(
    "h8_lambda_funcs",
    sql="""
    SELECT vec_id,
           round(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 6) AS norm2,
           array_length(list_filter(embedding, x -> x > 0)) AS n_pos,
           array_length(list_filter(embedding, x -> x > 0.9)) > 0 AS any_big,
           array_length(list_filter(embedding, x -> x < 2)) = array_length(embedding) AS all_small
    FROM embeddings WHERE vec_id <= 300
    """,
    tier="T2",
    survey="H8",
)
def h8_lambda_funcs(spark, sf_dir):
    """Higher-order lambdas: transform/aggregate/filter/exists/forall —
    the JVM-side vector-math hot path (no Python)."""
    e = T(spark, sf_dir, "embeddings").where(F.col("vec_id") <= 300)
    return e.select(
        "vec_id",
        F.round(vector.norm2("embedding"), 6).alias("norm2"),
        F.size(F.filter("embedding", lambda v: v > 0)).alias("n_pos"),
        F.exists("embedding", lambda v: v > 0.9).alias("any_big"),
        F.forall("embedding", lambda v: v < 2).alias("all_small"),
    )


@query(
    "h9_explode_tokens",
    sql="""
    SELECT tok, COUNT(*) AS n FROM (
      SELECT unnest(str_split(text, ' ')) AS tok FROM documents
    ) GROUP BY tok ORDER BY n DESC, tok LIMIT 30
    """,
    tier="T2",
    survey="H9,L5",
)
def h9_explode_tokens(spark, sf_dir):
    """Token expansion via explode — the shingle/token primitive for L-ops."""
    d = T(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "tok")
        .limit(30)
    )


@query(
    "h11_struct_funcs",
    sql="""
    SELECT s.o_orderkey AS ok, s.bucket AS bucket FROM (
      SELECT struct_pack(o_orderkey := o_orderkey,
                         bucket := CASE WHEN o_totalprice > 100000
                                        THEN 'big' ELSE 'small' END) AS s
      FROM orders WHERE o_orderkey <= 300
    )
    """,
    tier="T2",
    survey="H11",
)
def h11_struct_funcs(spark, sf_dir):
    """Struct pack + field access (final schema kept scalar for hashing)."""
    o = T(spark, sf_dir, "orders").where(F.col("o_orderkey") <= 300)
    packed = o.select(
        F.struct(
            F.col("o_orderkey").alias("o_orderkey"),
            F.when(F.col("o_totalprice") > 100000, "big")
            .otherwise("small")
            .alias("bucket"),
        ).alias("s")
    )
    return packed.select(
        F.col("s").getField("o_orderkey").alias("ok"),
        F.col("s").getField("bucket").alias("bucket"),
    )


@query(
    "h12_json_funcs",
    sql="""
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
           COUNT(*) AS n
    FROM events GROUP BY k_val
    """,
    tier="T2",
    survey="H12",
)
def h12_json_funcs(spark, sf_dir):
    """JSON path extraction on the events.props payload column (the
    reference's API-payload parsing analogue)."""
    ev = T(spark, sf_dir, "events")
    return (
        ev.select(
            F.get_json_object("props", "$.k").cast("bigint").alias("k_val")
        )
        .groupBy("k_val")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "h12b_from_json",
    sql=f"""
    SELECT event_type,
           {sql_dsum("CAST(json_extract_string(props, '$.k') AS BIGINT) * value",
                     'k_weighted_value')}
    FROM events GROUP BY event_type
    """,
    tier="T2",
    survey="H12",
)
def h12b_from_json(spark, sf_dir):
    """from_json into a typed struct, then arithmetic on the parsed field."""
    ev = T(spark, sf_dir, "events")
    parsed = ev.withColumn("pj", F.from_json("props", "k BIGINT"))
    return parsed.groupBy("event_type").agg(
        dsum(F.col("pj.k") * F.col("value"), "k_weighted_value")
    )


# ---------------------------------------------------------------------------
# 2.J UDF surfaces (SQL-checkable: the UDF computes SQL-expressible logic)
# ---------------------------------------------------------------------------


@query(
    "j1_scalar_udf",
    sql="SELECT doc_id, reverse(lang) AS rlang FROM documents WHERE doc_id <= 200",
    tier="T2",
    survey="J1",
)
def j1_scalar_udf(spark, sf_dir):
    """Arrow-optimized scalar UDF; oracle checks the same semantics via
    DuckDB's built-in reverse()."""
    d = T(spark, sf_dir, "documents").where(F.col("doc_id") <= 200)
    return d.select("doc_id", udfs.reverse_text(F.col("lang")).alias("rlang"))


@query(
    "j2_pandas_udf",
    sql="SELECT event_id, value * 2.0 + 1.0 AS boosted FROM events WHERE event_id <= 500",
    tier="T2",
    survey="J2",
)
def j2_pandas_udf(spark, sf_dir):
    ev = T(spark, sf_dir, "events").where(F.col("event_id") <= 500)
    return ev.select("event_id", udfs.affine_value(F.col("value")).alias("boosted"))


@query(
    "j3_grouped_map",
    sql="""
    SELECT event_id,
           value - min(value) OVER (PARTITION BY user_id) AS rebased
    FROM events
    """,
    tier="T2",
    survey="J3",
)
def j3_grouped_map(spark, sf_dir):
    """applyInPandas grouped-map: per-group rebase (the per-trace transform
    idiom); min-based so float results are exact on both engines."""
    ev = T(spark, sf_dir, "events")
    out = udfs.rebase_per_group(ev, "user_id", "value", "rebased")
    return out.select("event_id", "rebased")


@query(
    "j4_map_in_pandas",
    sql="""
    SELECT event_id, user_id, value * 1.5 AS boosted
    FROM events WHERE event_type = 'click'
    """,
    tier="T3",
    survey="J4",
)
def j4_map_in_pandas(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    return udfs.filter_project_in_pandas(ev, "click")


@query(
    "j5_grouped_agg_udf",
    sql="""
    SELECT user_id, max(value) AS max_value
    FROM events GROUP BY user_id
    """,
    tier="T3",
    survey="J5",
)
def j5_grouped_agg_udf(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        udfs.max_value(F.col("value")).alias("max_value")
    )


@query(
    "j7_sql_registered_udf",
    sql="SELECT doc_id, length(text) * 2 AS dlen FROM documents WHERE doc_id <= 200",
    tier="T3",
    survey="J7",
)
def j7_sql_registered_udf(spark, sf_dir):
    """UDF registered into the SQL catalog and invoked from SQL text (EP3)."""
    from oeem_etl_spark.catalog import load_table

    spark.udf.register("double_len", lambda s: len(s) * 2 if s is not None else None, "bigint")
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents_v")
    return spark.sql(
        "SELECT doc_id, double_len(text) AS dlen FROM documents_v WHERE doc_id <= 200"
    )


@query(
    "h12c_variant",
    sql="""
    SELECT event_type,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
           MIN(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
           MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
    FROM events
    GROUP BY event_type
    """,
    tier="T3",
    survey="H12",
)
def h12c_variant(spark, sf_dir):
    """VARIANT semi-structured type (Spark 4): ``parse_json`` → binary
    variant encoding → typed path extraction with ``variant_get`` —
    the third JSON surface next to h12's get_json_object/json_tuple and
    h12b's from_json-to-struct.

    At scale VARIANT is the right default for ragged JSON: the binary
    encoding decodes fields lazily (no full-document string re-parse per
    access), stays shreddable by Parquet writers, and ``variant_get``
    path+cast happens JVM-side inside codegen. The oracle mirrors the
    typed extraction with DuckDB's json_extract."""
    ev = T(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'int')")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


@query(
    "h14_try_functions",
    sql="""
    SELECT event_id,
           CASE WHEN user_id % 5 = 0 THEN NULL
                ELSE ROUND(CAST(event_id AS DOUBLE) / (user_id % 5), 6)
           END AS safe_ratio,
           TRY_CAST(event_type AS INTEGER) AS type_as_int,
           TRY_CAST(substr(props, 2, 3) AS INTEGER) AS props_prefix_int
    FROM events WHERE event_id <= 2000
    """,
    tier="T2",
    survey="H13,B5,B6",
)
def h14_try_functions(spark, sf_dir):
    """Error-safe expression family (Spark ANSI mode is pinned ON, so
    failing casts/divisions raise unless the try_ forms are used): NULL on
    divide-by-zero and on unparseable casts instead of job abort — the
    quarantine-free path for tolerable per-value errors."""
    ev = T(spark, sf_dir, "events").where(F.col("event_id") <= 2000)
    return ev.select(
        "event_id",
        F.round(
            F.try_divide(F.col("event_id").cast("double"), F.col("user_id") % 5), 6
        ).alias("safe_ratio"),
        F.col("event_type").try_cast("int").alias("type_as_int"),
        F.substring("props", 2, 3).try_cast("int").alias("props_prefix_int"),
    )


@query(
    "h15_url_funcs",
    sql="""
    SELECT doc_id,
           source || '.example.com' AS host,
           '/docs/' || CAST(doc_id AS VARCHAR) AS path,
           lang AS lang_param
    FROM documents WHERE doc_id <= 300
    """,
    tier="T2",
    survey="H1,H2",
)
def h15_url_funcs(spark, sf_dir):
    """URL parsing (parse_url HOST/PATH/QUERY-key) — the domain-extraction
    primitive behind per-domain corpus caps and provenance accounting.
    URLs are synthesized from fixture columns, so the oracle states the
    expected components directly and Spark must recover them by parsing."""
    docs = T(spark, sf_dir, "documents").where(F.col("doc_id") <= 300)
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?lang="), F.col("lang"), F.lit("&v=1"),
    )
    return docs.select(
        "doc_id",
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY"), F.lit("lang")).alias("lang_param"),
    )


@query(
    "h16_props_wrangle",
    sql="""
    SELECT event_type,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT)
             AS sum_k,
           CAST(SUM(CASE WHEN CAST(json_extract_string(props, '$.k') AS INT) >= 50
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
           CAST(CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
                WHEN 'purchase' THEN 10 ELSE 0 END AS INT) AS type_weight
    FROM events
    GROUP BY event_type
    """,
    tier="T2",
    survey="H12,H11,H10",
)
def h16_props_wrangle(spark, sf_dir):
    """Semi-structured wrangling chain — the props-payload triple play:
    H12 ``from_json`` parses the JSON props into a typed struct, H11
    struct surgery (``withField`` adds a derived flag, dot-path access
    reads it back), and an H10 literal map (``create_map`` +
    ``element_at``) attaches per-type weights — all three surfaces fused
    in one per-row expression chain before a plain rollup, exactly how a
    telemetry pipeline normalizes an opaque attributes column. Output is
    scalar, so the oracle needs only DuckDB's JSON extraction."""
    ev = T(spark, sf_dir, "events")
    parsed = ev.withColumn(
        "p", F.from_json(F.col("props"), "k INT")
    ).withColumn(
        "p", F.col("p").withField("is_high", F.col("p.k") >= 50)
    )
    weights = F.create_map(
        F.lit("view"), F.lit(1),
        F.lit("click"), F.lit(2),
        F.lit("purchase"), F.lit(10),
    )
    enriched = parsed.select(
        "event_type",
        F.col("p.k").alias("k"),
        F.col("p.is_high").cast("int").alias("is_high"),
        F.coalesce(F.element_at(weights, F.col("event_type")), F.lit(0)).alias(
            "type_weight"
        ),
    )
    return enriched.groupBy("event_type", "type_weight").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("k").alias("sum_k"),
        F.sum("is_high").alias("n_high"),
    ).select("event_type", "cnt", "sum_k", "n_high", "type_weight")


@query(
    "h17_fuzzy_join",
    sql="""
    WITH c AS (
      SELECT c_custkey, c_name FROM customer WHERE c_custkey <= 1500
    )
    SELECT a.c_custkey AS a_id, b.c_custkey AS b_id,
           a.c_name AS a_name, b.c_name AS b_name,
           CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
    FROM c a, c b
    WHERE a.c_custkey < b.c_custkey
      AND levenshtein(a.c_name, b.c_name) <= 1
    """,
    tier="T2",
    survey="H3,C6,H9",
)
def h17_fuzzy_join(spark, sf_dir):
    """Edit-distance-≤1 self-join on customer names WITHOUT a cross
    product: SymSpell deletion-neighborhood candidates, hash-equi-joined
    and levenshtein-verified (operators/text.fuzzy_join). The oracle is
    the brute-force quadratic — identical result set, different plan
    (the whole point: at corpus scale only the bucketed plan survives;
    keyspace capped at 1500 so the oracle's square stays sf-independent).
    """
    from oeem_etl_spark.operators.text import fuzzy_join

    c = T(spark, sf_dir, "customer").where(F.col("c_custkey") <= 1500)
    left = c.select(F.col("c_custkey").alias("a_id"), F.col("c_name").alias("a_name"))
    right = c.select(F.col("c_custkey").alias("b_id"), F.col("c_name").alias("b_name"))
    out = fuzzy_join(left, right, "a_name", "b_name")
    return out.where(F.col("a_id") < F.col("b_id")).select(
        "a_id", "b_id", "a_name", "b_name", "dist"
    )


@query(
    "h18_fuzzy_join_dist2",
    sql="""
    WITH t AS (
      SELECT DISTINCT unnest(string_split(p_name, ' ')) AS tok FROM part
    )
    SELECT a.tok AS a_tok, b.tok AS b_tok,
           CAST(levenshtein(a.tok, b.tok) AS INTEGER) AS dist
    FROM t a, t b
    WHERE a.tok < b.tok AND levenshtein(a.tok, b.tok) <= 2
    """,
    tier="T3",
    survey="H3,D11,H9",
)
def h18_fuzzy_join_dist2(spark, sf_dir):
    """Edit-distance-≤2 matching on the part-name vocabulary: the
    two-deletion SymSpell neighborhood (fan-out len²/2 per token — the
    short-token regime where distance-2 blocking is affordable). Oracle
    is the brute-force quadratic over the distinct vocabulary."""
    from oeem_etl_spark.operators.text import fuzzy_join, tokenize

    toks = (
        T(spark, sf_dir, "part")
        .select(F.explode(tokenize("p_name")).alias("tok"))
        .distinct()
    )
    left = toks.select(F.col("tok").alias("a_tok"))
    right = toks.select(F.col("tok").alias("b_tok"))
    out = fuzzy_join(left, right, "a_tok", "b_tok", max_dist=2)
    return out.where(F.col("a_tok") < F.col("b_tok")).select(
        "a_tok", "b_tok", "dist"
    )


@query(
    "h19_soundex_blocking",
    # DuckDB ships no soundex, so the oracle IMPLEMENTS it: translate maps
    # letters to digit codes (H/W -> '7' = skip-keep-lastCode, vowels+Y ->
    # '0' = reset — Spark's exact automaton, probed empirically incl. the
    # SWS/SHS/BWB discriminating cases), then a list_reduce fold carries
    # (lastCode, emitted digits) as a string state: acc[0] is lastCode,
    # acc[1:] the digits emitted so far.
    sql="""
    WITH toks AS (
      SELECT DISTINCT unnest(string_split(p_name, ' ')) AS tok FROM part
    ),
    enc AS (
      SELECT tok, upper(tok) AS u,
             translate(upper(tok), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                       '01230127022455012623017202') AS m
      FROM toks
    ),
    folded AS (
      SELECT tok, u,
        substr(
          list_reduce(
            list_concat([substr(m,1,1)],
                        list_filter(regexp_split_to_array(substr(m,2), ''),
                                    x -> x != '')),
            (acc, x) -> CASE
              WHEN x = '7' THEN acc
              WHEN x != '0' AND x != substr(acc,1,1)
                THEN x || substr(acc,2) || x
              ELSE x || substr(acc,2)
            END
          ), 2
        ) AS digits
      FROM enc
    ),
    coded AS (
      SELECT tok, substr(u,1,1) || substr(digits || '000', 1, 3) AS code
      FROM folded
    )
    SELECT code,
           array_to_string(array_agg(tok ORDER BY tok), ',') AS toks,
           COUNT(*) AS n
    FROM coded GROUP BY code ORDER BY code
    """,
    tier="T3",
    survey="H3,D5",
)
def h19_soundex_blocking(spark, sf_dir):
    """Phonetic blocking (H3's third face next to levenshtein and the
    deletion-neighborhood join): group the part-name vocabulary by
    soundex code — the classic record-linkage blocking key (same-sounding
    names land in one bucket, so the pairwise comparison runs inside
    buckets only). Oracle-checked: the DuckDB SQL implements the soundex
    automaton itself (translate + list_reduce fold); canonical examples
    stay pinned in tests/test_operators.py."""
    toks = (
        T(spark, sf_dir, "part")
        .select(F.explode(F.split(F.col("p_name"), " ")).alias("tok"))
        .distinct()
    )
    return (
        toks.groupBy(F.soundex(F.upper("tok")).alias("code"))
        .agg(F.array_join(F.array_sort(F.collect_set("tok")), ",").alias("toks"),
             F.count(F.lit(1)).alias("n"))
        .orderBy("code")
    )


@query(
    "j8_arrow_grouped_map",
    sql="""
    WITH m AS (
      SELECT user_id, CAST(ROUND(value * 1000000) AS BIGINT) AS v_m
      FROM events WHERE value IS NOT NULL
    ), s AS (
      SELECT user_id, COUNT(*) AS n, SUM(v_m) AS sum_m FROM m GROUP BY user_id
    )
    SELECT m.user_id, s.n,
           ROUND(s.sum_m / 1000000.0, 6) AS sum_value,
           CAST(MAX(ABS(m.v_m - (s.sum_m // s.n))) AS BIGINT) AS max_dev_micros
    FROM m JOIN s USING (user_id)
    GROUP BY m.user_id, s.n, s.sum_m
    """,
    tier="T2",
    survey="J3,J4,D1",
)
def j8_arrow_grouped_map(spark, sf_dir):
    """Spark 4's ARROW-native grouped map (``applyInArrow`` — the
    zero-pandas sibling of J3's applyInPandas): per-user integer-micros
    sum and max absolute deviation from the floor-divided integer mean,
    computed on the raw ``pyarrow.Table`` batch with arrow compute
    kernels (round mode half_towards_infinity = Spark/DuckDB ROUND).
    Exact integer arithmetic end to end, so the oracle matches the
    Python-side group computation digit-for-digit."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def group_stats(table: "pa.Table") -> "pa.Table":
        v = pc.cast(
            pc.round(
                pc.multiply(table.column("value"), pa.scalar(1e6)),
                ndigits=0,
                round_mode="half_towards_infinity",
            ),
            pa.int64(),
        )
        n = len(table)
        sum_m = pc.sum(v).as_py()
        mean_m = sum_m // n  # Python floor division == DuckDB //
        max_dev = pc.max(pc.abs(pc.subtract(v, pa.scalar(mean_m)))).as_py()
        return pa.table(
            {
                "user_id": pa.array([table.column("user_id")[0].as_py()], pa.int64()),
                "n": pa.array([n], pa.int64()),
                "sum_value": pa.array([round(sum_m / 1e6, 6)], pa.float64()),
                "max_dev_micros": pa.array([max_dev], pa.int64()),
            }
        )

    ev = T(spark, sf_dir, "events").where(F.col("value").isNotNull()).select(
        "user_id", "value"
    )
    return ev.groupBy("user_id").applyInArrow(
        group_stats,
        schema="user_id long, n long, sum_value double, max_dev_micros long",
    )


@query(
    "j9_parameterized_sql",
    sql="""
    SELECT o_orderpriority, COUNT(*) AS n,
           ROUND(SUM(CAST(ROUND(o_totalprice * 1000000) AS BIGINT))
                 / 1000000.0, 6) AS total
    FROM orders
    WHERE o_totalprice > 1000.0 AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY o_orderpriority
    """,
    tier="T2",
    survey="J7,B3,D1",
)
def j9_parameterized_sql(spark, sf_dir):
    """Spark 4 PARAMETERIZED SQL: named ``:param`` binding (the
    injection-safe way to template a query — values bind as literals in
    the plan, never string-spliced) plus ``{df}`` DataFrame
    interpolation, so the statement runs against an unregistered frame
    with no temp-view bookkeeping."""
    import datetime

    o = T(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n,
               ROUND(SUM(CAST(ROUND(o_totalprice * 1000000) AS BIGINT))
                     / CAST(1000000 AS DOUBLE), 6) AS total
        FROM {orders}
        WHERE o_totalprice > :lo AND o_orderdate < :cutoff
        GROUP BY o_orderpriority
        """,
        args={"lo": 1000.0, "cutoff": datetime.datetime(1997, 1, 1)},
        orders=o,
    )


@query(
    "h21_map_tier_rollup",
    sql="""
    SELECT CASE o_orderpriority
             WHEN '1-URGENT' THEN 'hot' WHEN '2-HIGH' THEN 'hot'
             WHEN '3-MEDIUM' THEN 'warm' ELSE 'cold' END AS tier,
           COUNT(*) AS n,
           CAST(CASE o_orderpriority
             WHEN '1-URGENT' THEN 100 WHEN '2-HIGH' THEN 80
             WHEN '3-MEDIUM' THEN 50 ELSE 10 END AS INTEGER) AS score
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY score DESC, tier, n
    """,
    tier="T3",
    survey="H10",
)
def h21_map_tier_rollup(spark, sf_dir):
    """Second MapType surface next to h10, rotated onto the other map
    builders: map_from_arrays (parallel key/value literals) + map_filter
    (keep hot/warm scores) + map_contains_key routing — config-as-map
    column shapes. Output is scalar, so the oracle needs no DuckDB MAP."""
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    scores = [100, 80, 50, 10, 10]
    tiers = ["hot", "hot", "warm", "cold", "cold"]
    score_map = F.map_from_arrays(
        F.array(*[F.lit(p) for p in prios]), F.array(*[F.lit(s) for s in scores])
    )
    tier_map = F.map_from_arrays(
        F.array(*[F.lit(p) for p in prios]), F.array(*[F.lit(t) for t in tiers])
    )
    hot_map = F.map_filter(score_map, lambda k, v: v >= 50)
    return (
        T(spark, sf_dir, "orders")
        .select(
            F.element_at(tier_map, F.col("o_orderpriority")).alias("tier"),
            F.when(
                F.map_contains_key(hot_map, F.col("o_orderpriority")),
                F.element_at(score_map, F.col("o_orderpriority")),
            ).otherwise(F.lit(10)).alias("score"),
            "o_orderpriority",
        )
        .groupBy("o_orderpriority", "tier", "score")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("tier", "n", F.col("score").cast("int").alias("score"))
        .orderBy(F.desc("score"), "tier", "n")
    )


@query(
    "j10_udf_normalize_dedupe",
    sql="""
    SELECT user_id, upper(event_type) AS canon_type,
           event_id AS latest_event_id, value AS latest_value
    FROM events WHERE user_id <= 200
    QUALIFY row_number() OVER (PARTITION BY user_id, upper(event_type)
                               ORDER BY ts DESC, event_id DESC) = 1
    """,
    tier="T2",
    survey="J1,K5",
)
def j10_udf_normalize_dedupe(spark, sf_dir):
    """Scalar-UDF label canonicalization (J1) feeding keep-latest record
    dedupe (K5): the record-linkage normalize-then-collapse pipeline. The
    UDF runs once per row before the hash aggregate; the dedupe is
    max_by (map-side combinable), not a window sort."""
    ev = (
        T(spark, sf_dir, "events")
        .where(F.col("user_id") <= 200)
        .select(
            "user_id",
            udfs.canon_label(F.col("event_type")).alias("canon_type"),
            "ts", "event_id", "value",
        )
    )
    latest = dedupe_keep_latest_by(
        ev, keys=["user_id", "canon_type"], order_cols=["ts", "event_id"],
        keep="max",
    )
    return latest.select(
        "user_id", "canon_type",
        F.col("event_id").alias("latest_event_id"),
        F.col("value").alias("latest_value"),
    )


@query(
    "j11_cogroup_asof",
    sql="""
    WITH p AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE event_type = 'purchase'
    ),
    c AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS cts
      FROM events WHERE event_type = 'click'
    ),
    m AS (
      SELECT p.event_id, p.user_id, p.ts,
             (SELECT max(c.cts) FROM c
              WHERE c.user_id = p.user_id AND c.cts <= p.ts)
               AS last_click_ts
      FROM p
    )
    SELECT event_id, user_id, ts, last_click_ts,
           CASE WHEN last_click_ts IS NULL THEN NULL
                ELSE (epoch_us(ts) - epoch_us(last_click_ts)) // 1000000
           END AS gap_s
    FROM m
    """,
    tier="T2",
    survey="J3,C8,B3",
)
def j11_cogroup_asof(spark, sf_dir):
    """Two-sided grouped map (the cogroup → applyInPandas API surface,
    previously uncovered): per-user pandas merge_asof of purchase events
    against the click stream — each purchase matched to the most recent
    click at-or-before it. Arrow ships both sides batched per key; the
    matched value equals the SQL correlated max, so the Python path is
    hash-exactly oracle-checked (C8's as-of semantics through J3's API).
    Scale: both sides hash-partition on user_id only; per-key pandas is
    the right tool when keys are bounded (sessions per user), and the
    relational as-of (relational.asof_join) remains the fact-sized path."""
    import pandas as pd

    ev = T(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts")
    )

    def match(left: "pd.DataFrame", right: "pd.DataFrame") -> "pd.DataFrame":
        if left.empty:
            return pd.DataFrame(
                columns=["event_id", "user_id", "ts", "last_click_ts"]
            )
        lo = left.sort_values("ts")
        ro = right.sort_values("cts")[["cts"]]
        out = pd.merge_asof(
            lo, ro, left_on="ts", right_on="cts", direction="backward"
        )
        return out.rename(columns={"cts": "last_click_ts"})[
            ["event_id", "user_id", "ts", "last_click_ts"]
        ]

    matched = (
        purchases.groupBy("user_id")
        .cogroup(clicks.groupBy("user_id"))
        .applyInPandas(
            match,
            "event_id long, user_id long, ts timestamp, last_click_ts timestamp",
        )
    )
    gap = (F.unix_micros("ts") - F.unix_micros("last_click_ts")) / F.lit(1_000_000)
    return matched.select(
        "event_id", "user_id", "ts", "last_click_ts",
        F.floor(gap).cast("long").alias("gap_s"),
    )


def _h62_sql() -> str:
    from oeem_etl_spark.plans import xxh64_sql

    return f"""
    WITH src AS (SELECT c_custkey, c_name FROM customer WHERE c_custkey <= 200),
    {xxh64_sql.xxh64_bytes_cte('src', 'c_name', prefix='hn')},
    {xxh64_sql.xxh64_long_cte('hnf', 'c_custkey', 'hk')},
    {xxh64_sql.hashint_const_ctes('hkf', 7, 'hn_u', 'hc')}
    SELECT c_custkey, hn_xxh AS h_name, hk_xxh AS h_key, hc_xxh AS h_chained
    FROM hcf ORDER BY c_custkey
    """


@query(
    "h62_xxh64_parity",
    sql=_h62_sql(),
    tier="T3",
    survey="H6",
)
def h62_xxh64_parity(spark, sf_dir):
    """The engine-native hash family exposed DIRECTLY as values — the
    sharpest possible H6 check: xxhash64 over a string column (full
    block algorithm, UTF-8 bytes), over a bigint column (hashLong fast
    path), and the chained two-child form xxhash64(str, lit(7)) (an INT
    literal takes the 4-byte hashInt step seeded by the string's hash).
    The DuckDB oracle recomputes all three bit-for-bit via
    plans/xxh64_sql.py — the machinery that promoted l2/l31b/i10 from
    rows-only. Any drift in Spark's hash layout (or the SQL twin) fails
    200 rows loudly."""
    cust = T(spark, sf_dir, "customer").where(F.col("c_custkey") <= 200)
    return cust.select(
        "c_custkey",
        F.xxhash64("c_name").alias("h_name"),
        F.xxhash64("c_custkey").alias("h_key"),
        F.xxhash64("c_name", F.lit(7)).alias("h_chained"),
    ).orderBy("c_custkey")


@query(
    "h63_struct_argmax",
    sql="""
    WITH ranked AS (
      SELECT event_type, value, event_id,
             row_number() OVER (PARTITION BY event_type
               ORDER BY value DESC, event_id DESC) AS rn
      FROM events
    ),
    above AS (
      SELECT event_type, COUNT(*) AS n_above
      FROM events
      WHERE value > 100.0 OR (value = 100.0 AND event_id > 1000)
      GROUP BY event_type
    )
    SELECT r.event_type, r.value AS best_value,
           r.event_id AS best_event_id,
           COALESCE(a.n_above, 0) AS n_above
    FROM ranked r LEFT JOIN above a USING (event_type)
    WHERE r.rn = 1
    ORDER BY r.event_type
    """,
    tier="T3",
    survey="H11,D4",
)
def h63_struct_argmax(spark, sf_dir):
    """Struct ORDERING as the argmax idiom (H11's fifth face, pre-authored
    so round-8 rotation keeps a fresh provider): max over
    struct(value, event_id) is lexicographic field-order comparison, so
    one hash aggregate returns the whole argmax row — no self-join, no
    window shuffle (the D4 ordered-first/last shape executed through
    struct comparison). A second struct comparison runs in a FILTER
    (struct(value, event_id) > struct(100.0, 1000)), whose lexicographic
    unrolling the oracle states explicitly. Values pass through without
    arithmetic, so raw doubles compare bit-exactly."""
    ev = T(spark, sf_dir, "events")
    m = ev.groupBy("event_type").agg(
        F.max(F.struct("value", "event_id")).alias("m")
    )
    above = (
        ev.where(
            F.struct("value", "event_id")
            > F.struct(F.lit(100.0).alias("value"), F.lit(1000).cast("long").alias("event_id"))
        )
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_above"))
    )
    return (
        m.join(above, "event_type", "left")
        .select(
            "event_type",
            F.col("m.value").alias("best_value"),
            F.col("m.event_id").alias("best_event_id"),
            F.coalesce("n_above", F.lit(0).cast("long")).alias("n_above"),
        )
        .orderBy("event_type")
    )
