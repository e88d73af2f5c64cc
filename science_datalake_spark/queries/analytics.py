"""Operator-inventory queries (SURVEY §2.2-2.8) over the driver testdata.

One query per SURVEY §2 row, each with a DuckDB oracle. The testdata lacks
nested columns, so struct/array shapes are constructed inline (struct_pack /
F.struct) — same operator semantics, synthetic input.

Scale discipline: every query here is a declarative DataFrame plan —
Catalyst pushes filters into scans, prunes columns, and broadcasts dims.
Comments call out the shuffle structure where it matters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from science_datalake_spark.catalog import table
from science_datalake_spark.operators.windows import top1_per_key, top_k_per_key
from science_datalake_spark.queries import query

# ---------------------------------------------------------------------------
# §2.2 projections / filters / predicates
# ---------------------------------------------------------------------------


@query(
    "proj_computed_columns",
    aux=True,
    oracle="""
    SELECT doc_id,
           'doc:' || CAST(doc_id AS VARCHAR) AS doc_uri,
           length(text)                      AS text_len,
           length(text) > 200                AS is_long,
           upper(substr(lang, 1, 2))         AS lang_uc
    FROM documents
    WHERE n_chars >= 100
    ORDER BY doc_id
    """,
)
def proj_computed_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3: computed columns (LENGTH/concat/flags), like the reference's
    ``LENGTH(text) AS text_length`` / ``'https://openalex.org/'||id``
    (convert_fulltext.py:145-147, create_unified_db.py:371)."""
    d = table(spark, sf_dir, "documents")
    return (
        d.filter(F.col("n_chars") >= 100)
        .select(
            "doc_id",
            F.concat(F.lit("doc:"), F.col("doc_id").cast("string")).alias("doc_uri"),
            F.length("text").alias("text_len"),
            (F.length("text") > 200).alias("is_long"),
            F.upper(F.substring("lang", 1, 2)).alias("lang_uc"),
        )
        .orderBy("doc_id")
    )


@query(
    "proj_struct_strings",
    aux=True,
    oracle="""
    SELECT (s).cname AS cust_name,
           (s).seg   AS segment,
           (s).bal   AS balance,
           lower((s).cname)                    AS name_lc,
           replace((s).cname, 'Customer#', '') AS name_id,
           length((s).cname)                   AS name_len,
           (s).cname LIKE 'Customer#0000000%'  AS is_low_id,
           trim(' ' || (s).seg || ' ')         AS seg_trimmed,
           substr((s).cname, 10, 4)            AS id_prefix
    FROM (
        SELECT struct_pack(cname := c_name, seg := c_mktsegment, bal := c_acctbal) AS s
        FROM customer WHERE c_custkey < 150
    )
    ORDER BY cust_name
    """,
)
def proj_struct_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 + §2.8 string class in one plan: struct build + dotted-field
    projection (the reference's ``externalids.DOI AS doi`` /
    ``journal.name`` pattern, create_unified_db.py:81-90) feeding
    LOWER/REPLACE/LENGTH/LIKE/TRIM/SUBSTR over the projected fields
    (create_unified_db.py:531-539). Testdata is flat, so the struct is
    built then immediately projected — Catalyst collapses this to a plain
    projection (CollapseProject), proving struct access is free."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 150)
    nested = c.select(
        F.struct(
            F.col("c_name").alias("cname"),
            F.col("c_mktsegment").alias("seg"),
            F.col("c_acctbal").alias("bal"),
        ).alias("s")
    )
    return nested.select(
        F.col("s.cname").alias("cust_name"),
        F.col("s.seg").alias("segment"),
        F.col("s.bal").alias("balance"),
        F.lower("s.cname").alias("name_lc"),
        F.regexp_replace(F.col("s.cname"), "Customer#", "").alias("name_id"),
        F.length("s.cname").alias("name_len"),
        F.col("s.cname").like("Customer#0000000%").alias("is_low_id"),
        F.trim(F.concat(F.lit(" "), F.col("s.seg"), F.lit(" "))).alias("seg_trimmed"),
        F.substring(F.col("s.cname"), 10, 4).alias("id_prefix"),
    ).orderBy("cust_name")


@query(
    "filter_predicates",
    aux=True,
    oracle="""
    SELECT p_type, count(*) AS n, CAST(round(avg(p_retailprice), 2) AS DOUBLE) AS avg_price
    FROM part
    WHERE p_size BETWEEN 5 AND 30
      AND p_name LIKE '%wi%'
      AND p_name ILIKE '%WIDGET%'
      AND p_brand IN ('Brand#1', 'Brand#2', 'Brand#17')
      AND p_retailprice IS NOT NULL
    GROUP BY p_type
    ORDER BY p_type
    """,
)
def filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: the predicate zoo — BETWEEN / LIKE / ILIKE / IN / IS NOT NULL
    (materialize_unified_papers.py:116; create_unified_db.py:290-318).
    All push down to the Parquet scan except ILIKE (evaluated post-scan)."""
    p = table(spark, sf_dir, "part")
    return (
        p.filter(
            F.col("p_size").between(5, 30)
            & F.col("p_name").like("%wi%")
            & F.col("p_name").ilike("%WIDGET%")
            & F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#17")
            & F.col("p_retailprice").isNotNull()
        )
        .groupBy("p_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("p_retailprice"), 2).alias("avg_price"),
        )
        .orderBy("p_type")
    )


@query(
    "union_null_padded",
    aux=True,
    oracle="""
    SELECT src, id, label, val FROM (
        SELECT 'orders' AS src, o_orderkey AS id, o_orderpriority AS label,
               o_totalprice AS val
        FROM orders WHERE o_orderkey < 100
        UNION ALL
        SELECT 'supplier' AS src, s_suppkey AS id, s_name AS label,
               CAST(NULL AS DOUBLE) AS val
        FROM supplier
    )
    ORDER BY src, id
    """,
)
def union_null_padded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 + P6: schema-aligned UNION ALL with NULL-typed padding — exactly
    how xref.doi_map unions 7 heterogeneous sources
    (create_unified_db.py:521-576; materialize_unified_papers.py:291-298)."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 100)
    s = table(spark, sf_dir, "supplier")
    left = o.select(
        F.lit("orders").alias("src"),
        F.col("o_orderkey").alias("id"),
        F.col("o_orderpriority").alias("label"),
        F.col("o_totalprice").alias("val"),
    )
    right = s.select(
        F.lit("supplier").alias("src"),
        F.col("s_suppkey").alias("id"),
        F.col("s_name").alias("label"),
        F.lit(None).cast("double").alias("val"),
    )
    return left.unionByName(right).orderBy("src", "id")


# ---------------------------------------------------------------------------
# §2.8 scalar functions
# ---------------------------------------------------------------------------


@query(
    "doi_normalize",
    aux=True,
    oracle="""
    SELECT doc_id, raw_doi,
           lower(coalesce(nullif(regexp_extract(lower(raw_doi), 'doi\\.org/(.+)$', 1), ''),
                          raw_doi)) AS doi
    FROM (
        SELECT doc_id,
               CASE doc_id % 4
                   WHEN 0 THEN '10.' || CAST(1000 + doc_id AS VARCHAR) || '/j.' || source
                   WHEN 1 THEN 'https://doi.org/10.' || CAST(1000 + doc_id AS VARCHAR) || '/x' || source
                   WHEN 2 THEN 'HTTPS://DOI.ORG/10.' || CAST(1000 + doc_id AS VARCHAR) || '/Y' || source
                   ELSE 'doi.org/10.' || CAST(1000 + doc_id AS VARCHAR) || '/z'
               END AS raw_doi
        FROM documents
    )
    ORDER BY doc_id
    """,
)
def doi_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's most important scalar logic: DOI normalization
    (README.md:117-138; convert_fulltext.py:52-58 DOI_CLEAN_SQL). Three wild
    formats → lowercase, prefix-stripped. Testdata has no DOIs, so variants
    are synthesized deterministically, then cleaned by the same expression
    the engine exposes in ``functions.clean_doi``."""
    from science_datalake_spark.functions import clean_doi, synth_doi

    d = table(spark, sf_dir, "documents")
    raw = d.select("doc_id", synth_doi(F.col("doc_id"), F.col("source")).alias("raw_doi"))
    return raw.select("doc_id", "raw_doi", clean_doi(F.col("raw_doi")).alias("doi")).orderBy("doc_id")


@query(
    "case_coalesce",
    aux=True,  # rotated to aux mid-round-5 (r04 driver row green; local parity continues)
    oracle="""
    SELECT
        CASE l_returnflag WHEN 'R' THEN 'returned'
                          WHEN 'A' THEN 'accepted'
                          ELSE 'none' END AS flag_label,
        CASE WHEN l_quantity >= 40 THEN 'bulk'
             WHEN l_quantity >= 10 THEN 'standard'
             ELSE 'small' END AS qty_class,
        coalesce(NULLIF(l_linestatus, 'F'), 'final') AS status_label,
        count(*) AS n
    FROM lineitem
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """,
)
def case_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 conditionals: CASE priority ranking + COALESCE/NULLIF source
    preference (materialize_fulltext.py:88-91;
    materialize_unified_papers.py:348-359)."""
    li = table(spark, sf_dir, "lineitem")
    flag_label = (
        F.when(F.col("l_returnflag") == "R", "returned")
        .when(F.col("l_returnflag") == "A", "accepted")
        .otherwise("none")
        .alias("flag_label")
    )
    qty_class = (
        F.when(F.col("l_quantity") >= 40, "bulk")
        .when(F.col("l_quantity") >= 10, "standard")
        .otherwise("small")
        .alias("qty_class")
    )
    status_label = F.coalesce(F.nullif(F.col("l_linestatus"), F.lit("F")), F.lit("final")).alias(
        "status_label"
    )
    return (
        li.select(flag_label, qty_class, status_label)
        .groupBy("flag_label", "qty_class", "status_label")
        .agg(F.count("*").alias("n"))
        .orderBy("flag_label", "qty_class", "status_label")
    )


@query(
    "date_try_cast",
    aux=True,
    oracle="""
    WITH mixed AS (
        SELECT o_orderdate, o_totalprice,
               CASE WHEN o_orderkey % 10 = 0 THEN 'not-a-date'
                    ELSE strftime(o_orderdate, '%Y-%m-%d') END AS datestr,
               CASE WHEN o_orderkey % 7 = 0 THEN 'NaN?'
                    ELSE CAST(o_orderkey AS VARCHAR) END AS numstr
        FROM orders
    )
    SELECT
        CAST(year(o_orderdate) AS INTEGER)  AS order_year,
        CAST(month(o_orderdate) AS INTEGER) AS order_month,
        date_trunc('month', o_orderdate)    AS month_start,
        count(*)                            AS n_orders,
        CAST(round(sum(o_totalprice), 2) AS DOUBLE) AS monthly_total,
        count(TRY_CAST(datestr AS DATE))    AS n_valid_dates,
        count(TRY_CAST(numstr AS INTEGER))  AS n_valid_nums
    FROM mixed
    GROUP BY 1, 2, 3
    ORDER BY 1, 2
    """,
)
def date_try_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 date class + P2 TRY_CAST tolerance in one plan: year/month
    extraction + date_trunc grouping (create_unified_db.py:76) over a
    deliberately dirty projection — the reference wraps every OpenAlex
    column in TRY_CAST (convert_openalex.py:155-388); Spark's try_cast
    nulls the bad 10%/14% instead of failing (ANSI off)."""
    o = table(spark, sf_dir, "orders")
    mixed = o.select(
        "o_orderdate",
        "o_totalprice",
        F.when(F.col("o_orderkey") % 10 == 0, F.lit("not-a-date"))
        .otherwise(F.date_format("o_orderdate", "yyyy-MM-dd"))
        .alias("datestr"),
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("NaN?"))
        .otherwise(F.col("o_orderkey").cast("string"))
        .alias("numstr"),
    )
    return (
        mixed.groupBy(
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_month"),
            F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("monthly_total"),
            F.count(F.expr("try_cast(datestr AS DATE)")).alias("n_valid_dates"),
            F.count(F.expr("try_cast(numstr AS INT)")).alias("n_valid_nums"),
        )
        .orderBy("order_year", "order_month")
    )


@query(
    "json_extract",
    aux=True,  # rotated to aux mid-round-5 (r04 driver row green; local parity continues)
    oracle="""
    SELECT event_type,
           count(*) AS n,
           CAST(min(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER) AS min_k,
           CAST(max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER) AS max_k
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 JSON: opaque JSON string column + path extraction — the
    reference keeps ``institutions AS JSON`` and probes with
    json_extract_string (convert_openalex.py:403,501-509)."""
    e = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        e.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.min(k).alias("min_k"),
            F.max(k).alias("max_k"),
        )
        .orderBy("event_type")
    )


@query(
    "array_explode_pos",
    aux=True,
    oracle="""
    SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, words[i] AS word
    FROM (
        SELECT doc_id, regexp_split_to_array(text, '\\s+') AS words
        FROM documents WHERE doc_id < 20
    ), unnest(generate_series(1, least(len(words), 5))) AS t(i)
    ORDER BY doc_id, pos
    """,
)
def array_explode_pos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 array/table-gen + W2: UNNEST-with-position. The reference fakes
    element position with ``row_number() OVER (ORDER BY (SELECT NULL))``
    (create_unified_db.py:96-106) — nondeterministic; posexplode is the
    Spark-native deterministic fix (SURVEY §7.4)."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    words = d.select("doc_id", F.slice(F.split("text", r"\s+"), 1, 5).alias("words"))
    return (
        words.select("doc_id", F.posexplode("words").alias("pos", "word"))
        .orderBy("doc_id", "pos")
    )


# ---------------------------------------------------------------------------
# §2.3 joins
# ---------------------------------------------------------------------------


@query(
    "join_expression_key",
    aux=True,
    oracle="""
    SELECT c.c_mktsegment, count(*) AS n_orders,
           CAST(round(sum(o.o_totalprice), 2) AS DOUBLE) AS total
    FROM orders o
    JOIN customer c
      ON 'Customer#' || lpad(CAST(o.o_custkey AS VARCHAR), 9, '0') = c.c_name
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
)
def join_expression_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: expression/theta equi-join — key computed in the predicate, like
    ``ON 'W'||CAST(oaid AS VARCHAR) = sc.paperid`` and
    ``ON 'https://openalex.org/'||sc.paperid = oa.id`` (SCHEMA.md:174-273).
    Catalyst evaluates the key expression before the shuffle, so this stays
    a hash join, not a nested loop. customer scales with the data, so no
    forced broadcast hint — AQE picks broadcast while it fits (round-10
    policy: hints only on fixed-cardinality dims)."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    key = F.concat(F.lit("Customer#"), F.lpad(F.col("o_custkey").cast("string"), 9, "0"))
    return (
        o.join(c, key == c.c_name)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "join_anti_semi",
    aux=True,  # rested round 11 wave 2 (9 rounds driver-green; local parity continues)
    oracle="""
    WITH act AS (
        SELECT n.n_name, count(*) AS n_active
        FROM customer c
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        GROUP BY n.n_name
    ),
    inact AS (
        SELECT n.n_name, count(*) AS n_inactive
        FROM customer c
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        GROUP BY n.n_name
    )
    SELECT coalesce(a.n_name, i.n_name)  AS n_name,
           coalesce(a.n_active, 0)       AS n_active_customers,
           coalesce(i.n_inactive, 0)     AS n_inactive_customers
    FROM act a FULL JOIN inact i ON a.n_name = i.n_name
    ORDER BY n_name
    """,
)
def join_anti_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J11 (anti) + J3-as-semi in one plan: per nation, customers WITH
    orders via left_semi and customers WITHOUT via left_anti, recombined
    with a full-outer join. The reference writes the anti side as
    LEFT JOIN ... WHERE right.id IS NULL (sanity_checks cell 6) and the
    semi side as ``x.col IS NOT NULL AS has_x`` flags
    (materialize_unified_papers.py:361-396); Spark's explicit left_anti /
    left_semi are the same plans without the null-filter hack."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    # pre-distinct the probe keys ONCE: both legs' build sides become the
    # IDENTICAL subplan, so the distinct's exchange is computed once and
    # reused (ReusedExchange), and the semi/anti joins move |customers
    # with orders| keys instead of |orders| rows — 2.25 -> 1.18 s at sf3.
    # No forced broadcast: the key set is bounded by |customer|, not a
    # fixed-cardinality dim (the r9 policy class); AQE promotes to a
    # broadcast join at runtime when the measured build side is small.
    ok = table(spark, sf_dir, "orders").select("o_custkey").distinct()

    def per_nation(join_type: str, out: str) -> DataFrame:
        return (
            c.join(ok, c.c_custkey == ok.o_custkey, join_type)
            .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .groupBy("n_name")
            .agg(F.count("*").alias(out))
        )

    act = per_nation("left_semi", "n_active")
    inact = per_nation("left_anti", "n_inactive")
    return (
        act.join(inact, "n_name", "full")
        .select(
            "n_name",
            F.coalesce(F.col("n_active"), F.lit(0)).alias("n_active_customers"),
            F.coalesce(F.col("n_inactive"), F.lit(0)).alias("n_inactive_customers"),
        )
        .orderBy("n_name")
    )


@query(
    "join_left_coverage_flags",
    aux=True,  # rotated to aux round 7 (>=2 rounds driver-green; local parity continues)
    oracle="""
    SELECT
        c.c_custkey,
        (o.o_custkey IS NOT NULL)  AS has_orders,
        (hv.o_custkey IS NOT NULL) AS has_high_value
    FROM customer c
    LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o
           ON o.o_custkey = c.c_custkey
    LEFT JOIN (SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 300000) hv
           ON hv.o_custkey = c.c_custkey
    ORDER BY c.c_custkey
    """,
)
def join_left_coverage_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2+J3: left-join fan-in producing coverage flags — the shape of the
    6-way unified_papers join (materialize_unified_papers.py:287-407).
    Right sides are pre-distinct'd so the left join can't fan out; they
    are customer-cardinality key sets (scale with the data), so no forced
    broadcast — AQE decides (round-10 policy)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    all_cust = o.select("o_custkey").distinct().withColumnRenamed("o_custkey", "any_custkey")
    hv_cust = (
        o.filter(F.col("o_totalprice") > 300000)
        .select("o_custkey")
        .distinct()
        .withColumnRenamed("o_custkey", "hv_custkey")
    )
    return (
        c.join(all_cust, c.c_custkey == all_cust.any_custkey, "left")
        .join(hv_cust, c.c_custkey == hv_cust.hv_custkey, "left")
        .select(
            "c_custkey",
            F.col("any_custkey").isNotNull().alias("has_orders"),
            F.col("hv_custkey").isNotNull().alias("has_high_value"),
        )
        .orderBy("c_custkey")
    )


@query(
    "multi_hop_rollup",
    aux=True,  # rotated to aux round 7 wave 3 (>=2 rounds driver-green; local parity continues)
    oracle="""
    SELECT r.r_name, n.n_name,
           count(DISTINCT s.s_suppkey) AS n_suppliers,
           count(l.l_orderkey)         AS n_lineitems,
           CAST(round(sum(l.l_extendedprice), 2) AS DOUBLE) AS gross
    FROM region r
    JOIN nation n   ON n.n_regionkey = r.r_regionkey
    JOIN supplier s ON s.s_nationkey = n.n_nationkey
    JOIN lineitem l ON l.l_suppkey = s.s_suppkey
    GROUP BY r.r_name, n.n_name
    ORDER BY r.r_name, n.n_name
    """,
)
def multi_hop_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10: multi-hop lookup chain region→nation→supplier→lineitem, like the
    doi_map multi-source hop joins (SCHEMA.md:202-209). nation/region hops
    broadcast (fixed 25/5 rows); supplier scales with the data, so its hop
    is AQE's call (round-10 policy: no forced broadcast of data-scaling
    relations) — zero shuffles before the final aggregation while supplier
    fits the threshold."""
    r = table(spark, sf_dir, "region")
    n = table(spark, sf_dir, "nation")
    s = table(spark, sf_dir, "supplier")
    li = table(spark, sf_dir, "lineitem")
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.countDistinct("s_suppkey").alias("n_suppliers"),
            F.count("l_orderkey").alias("n_lineitems"),
            F.round(F.sum("l_extendedprice"), 2).alias("gross"),
        )
        .orderBy("r_name", "n_name")
    )


@query(
    "join_cooccurrence",
    aux=True,  # rested round 9 (driver-green r7+r8; join family keeps 3 rows)
    oracle="""
    WITH m AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
        SELECT a.l_partkey AS item_a, b.l_partkey AS item_b, count(*) AS n_shared
        FROM m a
        JOIN m b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    )
    SELECT item_a, item_b, n_shared FROM pairs
    WHERE n_shared >= 2
    ORDER BY n_shared DESC, item_a, item_b
    LIMIT 20
    """,
)
def join_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph co-occurrence: items sharing a group (parts co-ordered ≈
    papers sharing a topic/venue). The self-join key is the group id, so
    the quadratic term is bounded by group size — same cost shape as the
    citation-graph self-joins (SCHEMA.md:353-371)."""
    from science_datalake_spark.operators.graph import cooccurrence

    li = table(spark, sf_dir, "lineitem")
    # pack_keys: TPC-H partkeys are positive and < 2^31 at every bench
    # scale, so the pair-count shuffle can move one packed long
    pairs = cooccurrence(li, "l_orderkey", "l_partkey", min_count=2, pack_keys=True)
    return (
        pairs.select(
            F.col("item_a"), F.col("item_b"), F.col("n_shared")
        )
        .orderBy(F.desc("n_shared"), "item_a", "item_b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# §2.4 aggregations
# ---------------------------------------------------------------------------


@query(
    "agg_filtered_distinct",
    aux=True,
    oracle="""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
           count(*) AS n,
           count(DISTINCT o_custkey) AS n_customers,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
           count(*) FILTER (WHERE o_totalprice > 200000) AS n_large
    FROM orders
    GROUP BY 1
    ORDER BY 1
    """,
)
def agg_filtered_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 + A3 in one plan: COUNT(DISTINCT) (materialize_fulltext.py:148-155)
    next to ``COUNT(*) FILTER (WHERE ...)`` (materialize_fulltext.py:150-163,
    as count(when(...))) under the same grouping."""
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.year("o_orderdate").alias("order_year"))
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_finished"),
            F.count(F.when(F.col("o_totalprice") > 200000, 1)).alias("n_large"),
        )
        .orderBy("order_year")
    )


@query(
    "agg_stats_profile",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n,
           CAST(round(avg(l_extendedprice), 2) AS DOUBLE)    AS avg_price,
           CAST(min(l_extendedprice) AS DOUBLE)              AS min_price,
           CAST(max(l_extendedprice) AS DOUBLE)              AS max_price,
           CAST(round(median(l_extendedprice), 2) AS DOUBLE) AS median_price,
           CAST(round(sum(l_quantity), 2) AS DOUBLE)         AS sum_qty,
           CAST(round(quantile_cont(l_extendedprice, 0.25), 2) AS DOUBLE) AS p25,
           CAST(round(quantile_cont(l_extendedprice, 0.75), 2) AS DOUBLE) AS p75,
           CAST(round(quantile_cont(l_extendedprice, 0.95), 2) AS DOUBLE) AS p95,
           CAST(round(corr(l_quantity, l_extendedprice), 6) AS DOUBLE) AS corr_qty_price,
           CAST(round(corr(l_discount, l_tax), 6) AS DOUBLE)           AS corr_disc_tax
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def agg_stats_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4+A5+A6 in one plan: AVG/MIN/MAX/SUM + exact MEDIAN (vignette_1
    cell 2; materialize_fulltext.py:158-164), exact interpolated quantiles
    matching DuckDB ``quantile_cont``, and Pearson correlation — the
    reference's cross-source citation-count consistency check over 121M
    rows (sanity_checks cell 8).

    Quantiles come from operators.stats.exact_group_quantiles_percentile
    (round 14 — the engine history is the repo's own A/B ledger): NOT
    Spark's raw ``percentile``/``median`` aggregate over the corpus
    (per-group value buffering of every ROW — the round-1 bench's
    slowest entry, OOM-prone at 100 TB group sizes; re-measured r14:
    1.76 s sf1 vs 1.09 for the histogram form); NOT the window-path
    exact_group_quantiles (l_returnflag has THREE groups → three tasks
    sort the whole corpus; round-8 A/B: 5.33 s sf1 / 18.8 s sf3); NOT
    the bucket-ranked exact_group_quantiles_parallel (4.07 s sf1 /
    7.7 s sf3 — samples boundaries in an extra action and
    row_number-ranks the FULL corpus); NOT the window-over-histogram
    exact_group_quantiles_histogram that held rounds 11-13 (the r14
    A/B: percentile-over-histogram is bit-identical and 1.67-1.83 ->
    1.34 s sf1 / 2.51 -> 2.37 sf3 / 1.81 -> 1.31 sf0.1 end-to-end —
    the rank arithmetic fuses into one hash aggregate instead of a
    3-task window sort feeding per-quantile conditional sums); and NOT
    a fully-fused single-pass plan deriving the algebraic aggregates
    from histogram moments (measured r14: 11 aggregation buffers per
    histogram cell cost more than the second corpus scan they save,
    1.82 vs 1.34 s sf1). l_extendedprice is a BOUNDED domain — 583,090
    distinct values at both 6M and 18M fixture rows (TPC-H cent
    prices) — so the histogram stage's one map-side-combinable
    (group, value) count shuffle is constant-size in the corpus. The
    parallel engine remains the right tool for continuous domains
    (distinct ~ rows). The algebraic aggregates run in a separate
    single-shuffle pass and broadcast-join onto the quantiles.
    For sketch-accuracy profiling use stats.approx_stats_profile."""
    from science_datalake_spark.operators.stats import (
        exact_group_quantiles_percentile,
    )

    li = table(spark, sf_dir, "lineitem")
    plain = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.corr("l_discount", "l_tax"), 6).alias("corr_disc_tax"),
    )
    # block_width on the window-over-histogram engine was considered and
    # REVERTED in r13 (1.52 -> 1.75 s sf0.1) and re-measured worse at sf1
    # in r14 (1.40 plain vs 1.51-1.69 blocked at four widths) before the
    # percentile-over-histogram engine replaced the window entirely.
    quant = exact_group_quantiles_percentile(
        li,
        ["l_returnflag"],
        "l_extendedprice",
        quantiles=(0.25, 0.5, 0.75, 0.95),
        out_names=("q25", "q50", "q75", "q95"),
    )
    return (
        # LEFT join: a group whose values are all NULL has no quantile row
        # (exact_group_quantiles ranks non-null values only) but must keep
        # its count/min/max row with NULL quantiles, like DuckDB's
        # quantile_cont
        plain.join(F.broadcast(quant), "l_returnflag", "left")
        .select(
            "l_returnflag",
            "n",
            "avg_price",
            "min_price",
            "max_price",
            F.round(F.col("q50"), 2).alias("median_price"),
            "sum_qty",
            F.round(F.col("q25"), 2).alias("p25"),
            F.round(F.col("q75"), 2).alias("p75"),
            F.round(F.col("q95"), 2).alias("p95"),
            "corr_qty_price",
            "corr_disc_tax",
        )
        .orderBy("l_returnflag")
    )


@query(
    "agg_upset_flags",
    aux=True,
    oracle="""
    SELECT has_orders, has_high_value, is_machinery, count(*) AS n_customers
    FROM (
        SELECT c.c_custkey,
               (o.o_custkey IS NOT NULL)        AS has_orders,
               (hv.o_custkey IS NOT NULL)       AS has_high_value,
               (c.c_mktsegment = 'MACHINERY')   AS is_machinery
        FROM customer c
        LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o ON o.o_custkey = c.c_custkey
        LEFT JOIN (SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 300000) hv
               ON hv.o_custkey = c.c_custkey
    )
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """,
)
def agg_upset_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: UpSet-style boolean-combination counts — GROUP BY all coverage
    flags → 2^k cell counts (materialize_unified_papers.py:502-509)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    all_cust = o.select("o_custkey").distinct().withColumnRenamed("o_custkey", "any_custkey")
    hv_cust = (
        o.filter(F.col("o_totalprice") > 300000)
        .select("o_custkey")
        .distinct()
        .withColumnRenamed("o_custkey", "hv_custkey")
    )
    return (
        c.join(all_cust, c.c_custkey == all_cust.any_custkey, "left")
        .join(hv_cust, c.c_custkey == hv_cust.hv_custkey, "left")
        .select(
            F.col("any_custkey").isNotNull().alias("has_orders"),
            F.col("hv_custkey").isNotNull().alias("has_high_value"),
            (F.col("c_mktsegment") == "MACHINERY").alias("is_machinery"),
        )
        .groupBy("has_orders", "has_high_value", "is_machinery")
        .agg(F.count("*").alias("n_customers"))
        .orderBy("has_orders", "has_high_value", "is_machinery")
    )


@query(
    "agg_having",
    aux=True,
    oracle="""
    SELECT o_custkey, count(*) AS n_orders,
           CAST(round(sum(o_totalprice), 2) AS DOUBLE) AS lifetime_value
    FROM orders
    GROUP BY o_custkey
    HAVING count(*) >= 15
    ORDER BY o_custkey
    """,
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: GROUP BY + HAVING (vignette_1 cell 8)."""
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("lifetime_value"),
        )
        .filter(F.col("n_orders") >= 15)
        .orderBy("o_custkey")
    )


@query(
    "agg_conditional_rates",
    aux=True,
    oracle="""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
           CAST(round(100.0 * sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
                       / count(*), 4) AS DOUBLE) AS pct_urgent,
           count(*) AS n
    FROM orders
    GROUP BY 1
    ORDER BY 1
    """,
)
def agg_conditional_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: conditional percentage per group — the reference's per-year
    coverage-rate queries (vignette_1 cell 4; SCHEMA.md:1098-1101)."""
    o = table(spark, sf_dir, "orders")
    urgent = F.sum(F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0))
    return (
        o.groupBy(F.year("o_orderdate").alias("order_year"))
        .agg(
            F.round(100.0 * urgent / F.count("*"), 4).alias("pct_urgent"),
            F.count("*").alias("n"),
        )
        .orderBy("order_year")
    )


@query(
    "distinct_projection",
    aux=True,
    oracle="""
    SELECT DISTINCT o_orderstatus, o_orderpriority
    FROM orders
    ORDER BY o_orderstatus, o_orderpriority
    """,
)
def distinct_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: DISTINCT projection (materialize_unified_papers.py:114-117)."""
    o = table(spark, sf_dir, "orders")
    return o.select("o_orderstatus", "o_orderpriority").distinct().orderBy(
        "o_orderstatus", "o_orderpriority"
    )


# ---------------------------------------------------------------------------
# §2.5 windows + §2.6 sorts/limits/sampling
# ---------------------------------------------------------------------------


@query(
    "window_dedup_top1",
    aux=True,
    oracle="""
    SELECT o_custkey, o_orderkey AS best_orderkey, o_totalprice AS best_price
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC NULLS LAST, o_orderkey) AS rn
        FROM orders
    )
    WHERE rn = 1
    ORDER BY o_custkey
    """,
)
def window_dedup_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 — THE workhorse: top-1-per-key dedup via row_number, the
    reference's QUALIFY pattern (materialize_unified_papers.py:146-149).
    Tie-break on the unique o_orderkey makes it deterministic under
    parallelism (SURVEY §7.4 golden-count note)."""
    o = table(spark, sf_dir, "orders")
    best = top1_per_key(
        o.select("o_custkey", "o_orderkey", "o_totalprice"),
        keys=["o_custkey"],
        order=[F.desc_nulls_last("o_totalprice"), F.asc("o_orderkey")],
    )
    return best.select(
        "o_custkey",
        F.col("o_orderkey").alias("best_orderkey"),
        F.col("o_totalprice").alias("best_price"),
    ).orderBy("o_custkey")


@query(
    "window_topk_per_group",
    aux=True,
    oracle="""
    SELECT o_orderpriority, rank, o_orderkey, o_totalprice
    FROM (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               CAST(row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rank
        FROM orders
    )
    WHERE rank <= 3
    ORDER BY o_orderpriority, rank
    """,
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k-per-group generalization of W1 (kNN post-filter shape,
    build_embedding_linkage.py:529-538)."""
    o = table(spark, sf_dir, "orders")
    topk = top_k_per_key(
        o.select("o_orderpriority", "o_orderkey", "o_totalprice"),
        keys=["o_orderpriority"],
        order=[F.desc("o_totalprice"), F.asc("o_orderkey")],
        k=3,
    )
    return topk.select("o_orderpriority", "rank", "o_orderkey", "o_totalprice").orderBy(
        "o_orderpriority", "rank"
    )


@query(
    "topk_global",
    aux=True,
    oracle="""
    SELECT o_orderkey, o_totalprice, o_orderpriority
    FROM orders
    ORDER BY o_totalprice DESC NULLS LAST, o_orderkey
    LIMIT 20
    """,
)
def topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1: global top-k — Spark plans TakeOrderedAndProject (per-partition
    heap, no full sort), the scalable form of ORDER BY ... LIMIT
    (SCHEMA.md:327-329; app.py:51-63)."""
    o = table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice", "o_orderpriority")
        .orderBy(F.desc_nulls_last("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
    )


@query(
    "sample_deterministic",
    aux=True,  # rotated to aux mid-round-5 (r04 driver row green; local parity continues)
    oracle="""
    SELECT count(*) AS n_sampled,
           CAST(round(avg(l_extendedprice), 2) AS DOUBLE) AS avg_price,
           CAST(round(sum(l_quantity), 2) AS DOUBLE)      AS sum_qty
    FROM lineitem
    WHERE l_orderkey % 97 = 0
    """,
)
def sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4: sampling. ``USING SAMPLE n`` (build_embedding_linkage.py:649-656)
    is nondeterministic across engines, so the oracle-checked form is a
    deterministic systematic sample (key mod p); ``df.sample(fraction,
    seed)`` is the production form for spot checks at scale."""
    li = table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_orderkey") % 97 == 0).agg(
        F.count("*").alias("n_sampled"),
        F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@query(
    "inverted_index_reconstruct",
    aux=True,  # driver-green r6+r7; rests in local parity (round-8 rotation)
    oracle="""
    WITH docs AS (
        SELECT * FROM (VALUES
            (1, '{"the":[0,3],"study":[1],"of":[2],"things":[4]}'),
            (2, '{"solo":[0]}'),
            (3, '{"b":[1],"a":[0],"c":[2]}')
        ) t(id, inv)
    ),
    words AS (
        SELECT id, k AS word, CAST(pos AS INTEGER) AS pos
        FROM docs,
             unnest(json_keys(inv)) AS t1(k),
             unnest(CAST(json_extract(inv, '$.' || k) AS INTEGER[])) AS t2(pos)
    )
    SELECT id, string_agg(word, ' ' ORDER BY pos) AS text
    FROM words GROUP BY id ORDER BY id
    """,
)
def inverted_index_reconstruct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OpenAlex inverted-index → text as a NATIVE column expression — the
    reference's per-row Python UDF (convert_openalex.py:100-117) replaced
    by from_json/map_entries/flatten/array_sort/array_join, which runs
    inside codegen over the 479M-work corpus. Inline VALUES input (S11) so
    the oracle computes the identical reconstruction relationally."""
    from science_datalake_spark.functions import inverted_index_to_text

    from science_datalake_spark.sources.json_source import inline_table

    df = inline_table(
        spark,
        [
            (1, '{"the":[0,3],"study":[1],"of":[2],"things":[4]}'),
            (2, '{"solo":[0]}'),
            (3, '{"b":[1],"a":[0],"c":[2]}'),
        ],
        "id INT, inv STRING",
    )
    return df.select("id", inverted_index_to_text(F.col("inv")).alias("text")).orderBy("id")


@query(
    "agg_pivot_status",
    aux=True,
    oracle="""
    SELECT l_returnflag,
           CAST(round(coalesce(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 0), 2) AS DOUBLE) AS qty_open,
           CAST(round(coalesce(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 0), 2) AS DOUBLE) AS qty_final
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def agg_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide) via Spark's pivot() — planned as conditional
    aggregates, exactly what the oracle writes by hand. One shuffle."""
    li = table(spark, sf_dir, "lineitem")
    pivoted = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.coalesce(F.sum("l_quantity"), F.lit(0.0)), 2))
    )
    return pivoted.select(
        "l_returnflag",
        F.coalesce(F.col("O"), F.lit(0.0)).alias("qty_open"),
        F.coalesce(F.col("F"), F.lit(0.0)).alias("qty_final"),
    ).orderBy("l_returnflag")


@query(
    "events_hourly_gapfill",
    aux=True,
    oracle="""
    WITH bounds AS (
        SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
        FROM events
    ),
    spine AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM bounds
    ),
    agg AS (
        SELECT date_trunc('hour', ts) AS hour, count(*) AS n,
               CAST(round(sum(value), 2) AS DOUBLE) AS total
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1
    )
    SELECT s.hour,
           coalesce(a.n, 0) AS n_events,
           CAST(coalesce(a.total, 0.0) AS DOUBLE) AS total_value
    FROM spine s LEFT JOIN agg a ON a.hour = s.hour
    ORDER BY s.hour
    """,
)
def events_hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling: generate the dense hour spine (sequence +
    explode), left-join sparse aggregates, zero-fill. The dimension-spine
    pattern every monitoring rollup needs; spine generation is O(hours)
    and broadcasts."""
    e = table(spark, sf_dir, "events")
    bounds = e.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hour")
    )
    agg = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("hour", "ts").alias("hour"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
    )
    return (
        spine.join(agg, "hour", "left")
        .select(
            "hour",
            F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
            F.coalesce(F.col("total"), F.lit(0.0)).alias("total_value"),
        )
        .orderBy("hour")
    )


# ---------------------------------------------------------------------------
# events (batch analogue of streaming windows)
# ---------------------------------------------------------------------------


@query(
    "events_windows",
    aux=True,  # rotated to aux round 7 wave 3 (>=2 rounds driver-green; local parity continues)
    oracle="""
    SELECT 'tumbling' AS win_kind,
           date_trunc('hour', ts) AS window_start,
           event_type,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           CAST(round(sum(value), 2) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 2, 3
    UNION ALL
    SELECT 'sliding' AS win_kind,
           make_timestamp(CAST((floor(epoch(ts) / 1800) * 1800 - 1800 * i) AS BIGINT) * 1000000)
               AS window_start,
           event_type,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           CAST(round(sum(value), 2) AS DOUBLE) AS total_value
    FROM events, unnest([0, 1]) AS t(i)
    GROUP BY 2, 3
    ORDER BY win_kind, window_start, event_type
    """,
)
def events_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling (1h) + sliding (1h length / 30min slide) window aggregation
    in one UNION ALL plan (batch form). Every event lands in exactly 2
    overlapping sliding windows; Spark's window() expands rows natively
    while the oracle reconstructs the same epoch-aligned starts. The same
    plans run as Structured Streaming with a watermark in
    streaming/events.py — these batch twins are the oracle-checkable
    versions (SURVEY §2.10)."""
    e = table(spark, sf_dir, "events")
    tumbling = (
        e.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(F.lit("tumbling").alias("win_kind"), "*")
    )
    sliding = (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.lit("sliding").alias("win_kind"),
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "n_users",
            "total_value",
        )
    )
    return tumbling.unionByName(sliding).orderBy("win_kind", "window_start", "event_type")


@query(
    "agg_rollup",
    aux=True,
    oracle="""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
           o_orderstatus,
           count(*) AS n,
           CAST(round(sum(o_totalprice), 2) AS DOUBLE) AS total
    FROM orders
    GROUP BY ROLLUP (1, 2)
    ORDER BY order_year NULLS FIRST, o_orderstatus NULLS FIRST
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (year → status → grand total). The reference
    computes its coverage lattice directly (A7); rollup is the OLAP-native
    generalization Spark and DuckDB both support."""
    o = table(spark, sf_dir, "orders")
    return (
        o.rollup(F.year("o_orderdate").alias("order_year"), F.col("o_orderstatus"))
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
        .orderBy(F.asc_nulls_first("order_year"), F.asc_nulls_first("o_orderstatus"))
    )


@query(
    "events_sessionize",
    aux=True,  # rested round 13 (driver-green r8-r12; events family keeps cohort_retention's driver row; the streaming twin stays pinned by stream==batch tests)
    oracle="""
    WITH g AS (
        SELECT user_id, ts, value, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
        SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS session_id
        FROM g
    )
    SELECT user_id,
           CAST(session_id AS BIGINT) AS session_id,
           count(*) AS n_events,
           min(ts) AS session_start,
           max(ts) AS session_end,
           CAST(round(sum(value), 2) AS DOUBLE) AS total_value
    FROM s
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (30-min inactivity gap) via lag + running sum — the
    lead/lag + running-aggregate window shapes the reference never needed
    (SURVEY §2.5 'not present'), added as first-class coverage. The
    streaming twin is streaming/sessions.py (applyInPandasWithState)."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    new_s = F.when(F.lag("ts").over(w).isNull() | (gap_us > 1_800_000_000), 1).otherwise(0)
    sessions = e.withColumn("__new", new_s).withColumn(
        "session_id", F.sum("__new").over(run)
    )
    return (
        sessions.groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("user_id", "session_id")
    )


@query(
    "join_asof",
    aux=True,  # rested round 9 wave 3 (>=2 rounds driver-green; parity continues)
    oracle="""
    SELECT c.event_id, c.user_id, c.ts,
           e.ts AS right_ts, e.event_id AS right_event_id
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
        ON c.user_id = e.user_id AND c.ts >= e.ts
    ORDER BY c.event_id
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click paired with the user's most recent prior
    error. Spark lacks the operator; operators/asof.py composes it from a
    union + one ordered window pass (single shuffle on the key). DuckDB's
    native ASOF JOIN is the oracle."""
    from science_datalake_spark.operators.asof import asof_join

    e = table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    errors = e.filter(F.col("event_type") == "error").select("user_id", "ts", "event_id")
    out = asof_join(
        clicks, errors, key="user_id", left_ts="ts", right_ts="ts",
        right_value_cols=["ts", "event_id"],
    )
    return out.select(
        "event_id", "user_id", "ts",
        F.col("right_ts"), F.col("right_event_id"),
    ).orderBy("event_id")


@query(
    "events_user_stats",
    aux=True,
    oracle="""
    SELECT event_type,
           count(*) AS n,
           count(DISTINCT user_id) AS n_users,
           CAST(round(median(value), 2) AS DOUBLE) AS median_value,
           CAST(round(max(value), 2) AS DOUBLE)    AS max_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def events_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-stream profile stats (A2/A5 over the stream table)."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.median("value"), 2).alias("median_value"),
            F.round(F.max("value"), 2).alias("max_value"),
        )
        .orderBy("event_type")
    )


@query(
    "events_funnel",
    aux=True,  # rested round 9 (driver-green r7+r8; events family keeps 3 rows)
    oracle="""
    WITH s1 AS (
        SELECT user_id, min(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, min(e.ts) AS t2
        FROM events e JOIN s1 ON s1.user_id = e.user_id
        WHERE e.event_type = 'click' AND e.ts > s1.t1
        GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, min(e.ts) AS t3
        FROM events e JOIN s2 ON s2.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM s1) AS n_view,
           (SELECT count(*) FROM s2) AS n_click_after_view,
           (SELECT count(*) FROM s3) AS n_purchase_after_click,
           CAST(round((SELECT count(*) FROM s3) * 1.0
                 / (SELECT count(*) FROM s1), 4) AS DOUBLE) AS conversion
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view → click → purchase): each step counts users
    whose first step-N event happens strictly AFTER their first step-N-1
    event — the sequential-pattern OLAP staple. Three cascaded
    min-aggregations + semi-join-shaped equi-joins on user_id (the key
    every stage shares, so the shuffles co-locate); no window, no UDF."""
    e = table(spark, sf_dir, "events")
    s1 = e.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("t1")
    )
    s2 = (
        e.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        e.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    counts = (
        s1.agg(F.count("*").alias("n_view"))
        .crossJoin(s2.agg(F.count("*").alias("n_click_after_view")))
        .crossJoin(s3.agg(F.count("*").alias("n_purchase_after_click")))
    )
    return counts.select(
        "n_view",
        "n_click_after_view",
        "n_purchase_after_click",
        F.round(
            F.col("n_purchase_after_click") * F.lit(1.0) / F.col("n_view"), 4
        ).alias("conversion"),
    )


@query(
    "events_cohort_retention",
    oracle="""
    WITH firsts AS (
        SELECT user_id, date_trunc('week', min(ts)) AS cohort FROM events
        GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
    )
    SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort_week,
           CAST((epoch(a.wk) - epoch(f.cohort)) / 604800 AS INTEGER)
               AS week_offset,
           count(DISTINCT a.user_id) AS n_users
    FROM activity a JOIN firsts f USING (user_id)
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-activity week,
    counted in each subsequent week they stay active — the product-
    analytics staple. Two aggregations + one user-keyed join; the
    countDistinct at (cohort, offset) grain is the only expand."""
    e = table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort")
    )
    activity = e.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("wk")
    ).distinct()
    return (
        activity.join(firsts, "user_id")
        .groupBy(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort_week"),
            (
                (F.unix_seconds(F.col("wk")) - F.unix_seconds(F.col("cohort")))
                / F.lit(604800)
            )
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


def _pagerank_oracle(iters: int = 3, damping: float = 0.85) -> str:
    """Fixed-iteration power iteration unrolled as CTE stages (DuckDB
    disallows aggregation in a recursive CTE member; with the iteration
    count fixed, unrolling IS the natural relational form). The teleport
    and damping literals are generated from the SAME Python floats the
    Spark side folds into its plan (repr round-trips exactly), not
    hand-written decimals: a hardcoded ``0.15`` parses to the double one
    ulp BELOW Python's ``1.0 - 0.85`` (advisor finding) — per-iteration
    rounding makes a flip unlikely, but the engines should agree to the
    bit."""
    teleport, damp = repr(1.0 - damping), repr(damping)
    stages = []
    for i in range(1, iters + 1):
        prev = f"r{i - 1}"
        stages.append(
            f"""c{i} AS (
        SELECT e.dst AS node, sum(r.rank / deg.d) AS c
        FROM edges e
        JOIN {prev} r ON r.node = e.src
        JOIN deg ON deg.src = e.src
        GROUP BY e.dst
    ),
    r{i} AS (
        SELECT nodes.node,
               round({teleport} / nn.n + {damp} * coalesce(c{i}.c, 0), 9) AS rank
        FROM nodes CROSS JOIN nn
        LEFT JOIN c{i} ON c{i}.node = nodes.node
    )"""
        )
    body = ",\n    ".join(stages)
    return f"""
    WITH edges AS (
        SELECT DISTINCT 'p' || CAST(l_partkey AS VARCHAR) AS src,
                        's' || CAST(l_suppkey AS VARCHAR) AS dst
        FROM lineitem WHERE l_orderkey % 10 = 0
    ),
    nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    nn AS (SELECT count(*) AS n FROM nodes),
    deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
    r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn),
    {body}
    SELECT node, CAST(round(rank, 6) AS DOUBLE) AS pagerank
    FROM r{iters}
    ORDER BY pagerank DESC, node
    LIMIT 20
    """


@query("graph_pagerank", oracle=_pagerank_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the part→supplier co-purchase graph (3 power
    iterations, damping 0.85, per-iteration round-9 so the DuckDB
    unrolled twin iterates on identical inputs): the citation-impact
    ranking pattern as a pure DataFrame loop
    (operators/graph.pagerank)."""
    from science_datalake_spark.operators.graph import pagerank

    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 10 == 0)
    edges = li.select(
        F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    pr = pagerank(edges, iters=3, damping=0.85, iter_round=9)
    return (
        pr.select("node", F.round(F.col("rank"), 6).alias("pagerank"))
        .orderBy(F.desc("pagerank"), "node")
        .limit(20)
    )


@query(
    "join_range_overlap",
    aux=True,  # rested round 10 (driver-green r7-r9; join_range_overlap_spans supersets it: both branches + the same banded plan)
    oracle="""
    WITH iv AS (
        SELECT l_orderkey * 10 + l_linenumber AS uid, l_partkey, l_suppkey,
               CAST(datediff('day', DATE '1992-01-01', l_shipdate) AS DOUBLE) AS s,
               CAST(datediff('day', DATE '1992-01-01', l_shipdate)
                    + l_quantity AS DOUBLE) AS e
        FROM lineitem
    )
    SELECT a.l_suppkey AS l_suppkey,
           count(*) AS n_pairs,
           CAST(round(avg(least(a.e, b.e) - greatest(a.s, b.s)), 2) AS DOUBLE)
               AS avg_overlap_days
    FROM iv a
    JOIN iv b
      ON a.l_partkey = b.l_partkey AND a.l_suppkey = b.l_suppkey
     AND a.s <= b.e AND b.s <= a.e AND a.uid < b.uid
    GROUP BY a.l_suppkey ORDER BY l_suppkey
    """,
)
def join_range_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join via the KEYED strategy (round 11,
    operators/rangejoin.interval_overlap_join strategy="keyed"): pairs
    of same-part, same-supplier shipments whose transit windows
    [shipdate, shipdate + quantity days] overlap, rolled up per
    supplier. The (l_partkey, l_suppkey) groups are ~7 rows at any SF
    (the data model bounds them), so a plain hash equi-join with the
    overlap predicate as a post-join filter is the right plan — the
    same plan the DuckDB oracle runs — and beats the banded machinery
    3.5x at sf3 (11.4 -> 3.3 s, identical rows): banding paid explode
    fan-out and a wider join key to bound a blowup the tiny key groups
    already bound. The sibling join_range_overlap_spans keeps
    exercising the banded + long-span-theta branches (the plan for
    unkeyed or corpus-sized-group inputs) against the same oracle
    arithmetic."""
    from science_datalake_spark.operators.rangejoin import interval_overlap_join

    li = table(spark, sf_dir, "lineitem")
    base = F.datediff(
        F.to_date("l_shipdate"), F.lit("1992-01-01").cast("date")
    ).cast("double")
    iv = li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("uid"),
        "l_partkey",
        "l_suppkey",
        base.alias("start"),
        (base + F.col("l_quantity")).alias("end"),
    )
    pairs = interval_overlap_join(
        iv,
        iv,
        bucket_width=16.0,
        on=["l_partkey", "l_suppkey"],
        # shuffled-hash keyed join: the ~7-row key groups bound each
        # partition's in-memory build (~560k rows at sf3)
        strategy="keyed",
    ).filter(F.col("uid") < F.col("uid_r"))
    return (
        pairs.groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(
                F.avg(
                    F.least("end", "end_r") - F.greatest("start", "start_r")
                ),
                2,
            ).alias("avg_overlap_days"),
        )
        .orderBy("l_suppkey")
    )


@query(
    "join_range_overlap_spans",
    # rotated INTO driver round 10 wave 1 (driver evidence derived by tools/rotation_audit.py)
    oracle="""
    WITH iv AS (
        SELECT l_orderkey * 10 + l_linenumber AS uid, l_partkey, l_suppkey,
               CAST(datediff('day', DATE '1992-01-01', l_shipdate) AS DOUBLE) AS s,
               CAST(datediff('day', DATE '1992-01-01', l_shipdate) + l_quantity
                    + CASE WHEN l_orderkey % 1009 = 0 THEN 5000 ELSE 0 END
                    AS DOUBLE) AS e
        FROM lineitem
    )
    SELECT a.l_suppkey AS l_suppkey,
           count(*) AS n_pairs,
           CAST(sum(CASE WHEN a.e - a.s >= 1000 OR b.e - b.s >= 1000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_long_pairs,
           CAST(round(avg(least(a.e, b.e) - greatest(a.s, b.s)), 2) AS DOUBLE)
               AS avg_overlap_days
    FROM iv a
    JOIN iv b
      ON a.l_partkey = b.l_partkey AND a.l_suppkey = b.l_suppkey
     AND a.s <= b.e AND b.s <= a.e AND a.uid < b.uid
    GROUP BY a.l_suppkey ORDER BY l_suppkey
    """,
)
def join_range_overlap_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """join_range_overlap's sibling that exercises BOTH
    interval_overlap_join branches in one oracle-checked result (round-9
    verdict item 6: the long×all theta branch of the banded strategy was
    test-pinned only). A deterministic rare subset (l_orderkey % 1009 ==
    0, ~1/1000 of intervals at any SF) gets an open-ended +5000-day
    transit window — spans of 5000+ days vs <=50 for the rest — so with
    bucket_width=256 and long_span_buckets=4 (threshold 1024 days) those
    rows route through the theta fallback while everything else stays
    banded; the two paths partition the pair space exactly, and
    ``n_long_pairs`` makes the fallback rows visible in the rolled-up
    result instead of silently merged. The oracle is the single theta
    self-join DuckDB runs in-process — blind to the branch split, which
    is the point: branch routing must not change results.

    Round-13 retune (verdict #1; decomposition committed in
    tools/decompose_rangejoin.py + BENCH_NOTES r13): the 8-9 s sf3
    absolute was the BANDED leg's exploded shuffle (8.8 of 11.6 s), not
    the theta legs — bucket_width=16 gave ~2.6 band rows per interval
    (80M shuffled rows for the self-join) while the ~7-row (partkey,
    suppkey) groups made that band resolution worthless (most bucket
    cells held <=1 interval). Width 256 cuts fan-out to ~1.1, and
    share_scan=True collapses the six iv scans into one persisted skinny
    relation: 11.6 -> 5.4 s sf3, rows hash-identical at every width
    swept (16/64/128/256/512). Residual vs the oracle is the deliberate
    branch-coverage cost (the keyed plan this data shape wants measures
    3.1 s and ships as join_range_overlap) plus DuckDB's in-process
    vectorized pair evaluation."""
    from science_datalake_spark.operators.rangejoin import interval_overlap_join

    li = table(spark, sf_dir, "lineitem")
    base = F.datediff(
        F.to_date("l_shipdate"), F.lit("1992-01-01").cast("date")
    ).cast("double")
    iv = li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("uid"),
        "l_partkey",
        "l_suppkey",
        base.alias("start"),
        (
            base
            + F.col("l_quantity")
            + F.when(F.col("l_orderkey") % 1009 == 0, F.lit(5000.0)).otherwise(0.0)
        ).alias("end"),
    )
    pairs = interval_overlap_join(
        iv,
        iv,
        bucket_width=256.0,
        on=["l_partkey", "l_suppkey"],
        long_span_buckets=4,
        share_scan=True,
    ).filter(F.col("uid") < F.col("uid_r"))
    is_long = (F.col("end") - F.col("start") >= 1000) | (
        F.col("end_r") - F.col("start_r") >= 1000
    )
    return (
        pairs.groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.when(is_long, 1).otherwise(0)).alias("n_long_pairs"),
            F.round(
                F.avg(
                    F.least("end", "end_r") - F.greatest("start", "start_r")
                ),
                2,
            ).alias("avg_overlap_days"),
        )
        .orderBy("l_suppkey")
    )


@query(
    "events_gap_stats",
    aux=True,  # rested round 9 wave 3 (driver-green r7+r8; parity continues)
    oracle="""
    WITH g AS (
        SELECT user_id,
               date_diff('second',
                         lag(ts) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id),
                         ts) AS gap_s
        FROM events
    )
    SELECT user_id,
           count(*) + 1 AS n_events,
           CAST(round(avg(gap_s), 1) AS DOUBLE) AS avg_gap_s,
           max(gap_s) AS max_gap_s
    FROM g WHERE gap_s IS NOT NULL
    GROUP BY user_id
    ORDER BY max_gap_s DESC, user_id LIMIT 20
    """,
)
def events_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gap profile per user via lag() — the dwell-time /
    inactivity-detection window shape (complements sessionize, which
    thresholds the same gaps). One window keyed on user_id (co-located
    with every other per-user analytic), one hash aggregate, top-20 by
    longest silence lowering to TakeOrderedAndProject."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        (
            F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
        ).alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    return (
        gaps.groupBy("user_id")
        .agg(
            (F.count(F.lit(1)) + 1).alias("n_events"),
            F.round(F.avg("gap_s"), 1).alias("avg_gap_s"),
            F.max("gap_s").alias("max_gap_s"),
        )
        .orderBy(F.desc("max_gap_s"), "user_id")
        .limit(20)
    )
