"""Relational core queries (SURVEY §2: scans, filters, projections, joins,
aggregations, sorts, set ops — Q01-Q23, Q27, Q30-Q34).

Each ``q_*`` function is the Spark-first implementation; ``ORACLE`` holds
the equivalent DuckDB SQL. Column aliases match exactly on both sides
(the harness sorts columns by name before hashing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from biodata_pipeline_spark.functions import aggs, textfn
from biodata_pipeline_spark.operators.dedup import exact_dedup
from biodata_pipeline_spark.operators.grid import sweep_grid
from biodata_pipeline_spark.sources.local import local_frame
from biodata_pipeline_spark.sources.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _dec_sum(col, grain: int = 2):
    """Scale-proof deterministic sum of a decimal-grained column: cast each
    value onto its decimal grid (exact — doubles sit within an ulp of the
    grid point, far inside the half-grain), sum exactly in decimal, and
    convert the single result back to double. Unlike ``round(sum(x), k)``,
    this cannot drift: float accumulation error grows with the data while
    the grain stays fixed, so at a large enough SF the rounding of
    ulp-divergent float sums lands on different grid points in different
    engines (observed at sf0.1 for a 6dp grain).

    Declared queries always pay this (~10× double, SCALING.md); production
    paths that feed dashboards/ratios can take functions.aggs.fast_sum."""
    return aggs.dec_sum(col, grain)


def _avg_grain(col, grain: int = 2):
    """Cross-engine-deterministic average: exact decimal sum / count."""
    return aggs.dec_avg(col, grain)


# --- Q01-Q08: scans / filters / projections ---------------------------------


def q01_text_scan_blank_filter(spark, sf_dir):
    """Text-lines scan keeping len(strip) > 2 (generate_narratives_from_data.py:79-85)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.filter(F.length(F.trim("text")) > 2).select("doc_id", "text")


def q02_delimited_comment_filter(spark, sf_dir):
    """TSV-style scan: skip '#' comments, take first two fields
    (RAG-eval-test_model.py:123-128)."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return (
        docs.filter(~F.col("text").startswith("#"))
        .select(
            "doc_id",
            # F.get (not element_at): NULL out-of-bounds instead of an ANSI
            # error, matching split_part's ''→NULLIF on the oracle side
            F.get(toks, 0).alias("query"),
            F.get(toks, 1).alias("answer_key"),
        )
    )


def q03_prompt_template_projection(spark, sf_dir):
    """Fixed instruction + JSON-ish record rendering (generate_narratives_from_data.py:29-37)."""
    part = _t(spark, sf_dir, "part")
    prompt = F.concat(
        F.lit("Write a narrative describing this part: "),
        F.lit('{"name": "'),
        F.col("p_name"),
        F.lit('", "brand": "'),
        F.col("p_brand"),
        F.lit('", "size": '),
        F.col("p_size").cast("string"),
        F.lit("}"),
    )
    return part.select("p_partkey", prompt.alias("prompt"))


def q04_alpaca_projection(spark, sf_dir):
    """Alpaca self-supervised template, byte-for-byte incl. 'Response :'
    (RAG-eval-create_model.py:55-67)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.filter(F.length(F.trim("text")) > 0).select(
        "doc_id", textfn.alpaca_format(F.col("text")).alias("alpaca")
    )


def q05_suffix_marker_predicate(spark, sf_dir):
    """Keep rows whose last 10 chars contain a marker
    (generate_narratives_from_data.py:69; marker adapted to testdata vocab)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.filter(textfn.has_suffix_marker("text", marker="table", window=10)).select(
        "doc_id", "text"
    )


def q06_regex_suffix_strip(spark, sf_dir):
    """Strip a trailing marker token (generate_narratives_from_data.py:55-61)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_replace("text", r"(table|sort)\s*$", "").alias("cleaned"),
    )


def q07_word_boundary_match(spark, sf_dir):
    """Word-boundary containment predicate (RAG-eval-test_model.py:131,136)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.filter(textfn.boundary_match("text", "spark")).select("doc_id", "lang")


def q08_comment_prefix_filter(spark, sf_dir):
    """not startswith('#') (RAG-eval-test_model.py:126)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.filter(~F.col("text").startswith("#"))
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"))
    )


# --- Q09: dedup --------------------------------------------------------------


def q09_exact_dedup(spark, sf_dir):
    """Exact distinct on (orderkey, partkey) (SURVEY §2.3)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select("l_orderkey", "l_partkey").dropDuplicates()


def q09b_exact_dedup_text(spark, sf_dir):
    """Content dedup on documents via normalized-text hash group-by."""
    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs, "text", "doc_id").select("doc_id", "lang", "source")


# --- Q10-Q17: joins ----------------------------------------------------------


def q10_broadcast_dim_join(spark, sf_dir):
    """customer ⋈ nation ⋈ region rollup; dims explicitly broadcast."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_cust"),
            _avg_grain("c_acctbal").alias("avg_bal"),
        )
    )


def q11_multiway_join_revenue(spark, sf_dir):
    """lineitem ⋈ orders ⋈ customer ⋈ nation revenue per nation (AQE picks
    broadcast for the dim, sort-merge for the facts)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            # grain 4, the expression's natural grid (2dp price × 2dp
            # discount): casting a 4dp-grain value to 2dp decimal hits true
            # halfway cases where the engines' rounding modes differ
            _dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "revenue"
            )
        )
    )


def q12_semi_join(spark, sf_dir):
    """Orders with ≥1 lineitem (left_semi = EXISTS)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return o.join(
        li, o.o_orderkey == li.l_orderkey, "left_semi"
    ).select("o_orderkey", "o_totalprice")


def q13_anti_join_manifest(spark, sf_dir):
    """Customers with no orders — THE skip-if-exists incremental pattern
    (generate_narratives_from_data.py:63-65 as a left_anti join)."""
    c = _t(spark, sf_dir, "customer")
    done = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(done, c.c_custkey == done.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


def q14_cross_join_grid(spark, sf_dir):
    """Sweep grid = cartesian product of small config relations
    (test_all_models_llm_eval_sophia.py:38-47)."""
    r = _t(spark, sf_dir, "region").select("r_name")
    pri = _t(spark, sf_dir, "orders").select("o_orderpriority").distinct()
    return r.crossJoin(F.broadcast(pri))


def q14b_sweep_grid_literal(spark, sf_dir):
    """The reference's actual grid shape (adapter_type × epoch × task) via
    the sweep_grid operator, with the filename-style output key."""
    from biodata_pipeline_spark.operators.grid import grid_output_key

    grid = sweep_grid(
        spark,
        {
            "adapter_type": ["pathway", "ppi", "protein_structure", "sp_gene", "subsystem"],
            "epoch": [round(0.2 * i, 1) for i in range(1, 6)],
            "task": ["winogrande", "gsm8k"],
        },
    )
    return grid.withColumn(
        "output_key", grid_output_key(["adapter_type", "epoch", "task"])
    )


def q15_range_join_price_bands(spark, sf_dir):
    """Non-equi (theta) join of lineitem prices into literal bands."""
    li = _t(spark, sf_dir, "lineitem")
    bands = local_frame(
        spark,
        [("low", 0.0, 10000.0), ("mid", 10000.0, 50000.0), ("high", 50000.0, 1e9)],
        "band string, lo double, hi double",
    )
    return (
        li.join(
            F.broadcast(bands),
            (li.l_extendedprice >= bands.lo) & (li.l_extendedprice < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count("*").alias("n_items"),
            _dec_sum("l_extendedprice", 2).alias("sum_price"),
        )
    )


def q17_left_outer_sentinel(spark, sf_dir):
    """Left join + coalesce sentinel for no-match rows
    (RAG-eval-test_model.py:145-147)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    cnt = o.groupBy("o_custkey").agg(F.count("*").alias("cnt"))
    return c.join(cnt, c.c_custkey == cnt.o_custkey, "left").select(
        "c_custkey", F.coalesce("cnt", F.lit(0)).cast("long").alias("n_orders")
    )


# --- Q18-Q23: aggregations ----------------------------------------------------


def q18_global_avg(spark, sf_dir):
    """Global average (Average Search Rank analog, RAG-eval-test_model.py:149)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(_avg_grain("l_quantity").alias("avg_qty"))


def q19_avg_of_group_min(spark, sf_dir):
    """Two-level agg: per-group first, then global average
    (Average First Hit Rank, RAG-eval-test_model.py:137-138,150)."""
    o = _t(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(F.min("o_totalprice").alias("m"))
    return per_cust.agg(_avg_grain("m").alias("avg_first"))


def q20_grouped_count_distinct(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_cust"),
    )


def q21_pricing_summary(spark, sf_dir):
    """TPC-H Q1-style pricing summary (grouped multi-agg rollup of the
    reference's per-cell metric files)."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # exact decimal sums at each expression's grain (qty/price 2dp,
            # price×(1−disc) 4dp, ×(1+tax) 6dp) — see _dec_sum: float-grain
            # rounding diverged between engines at sf0.1 for the 6dp grain
            _dec_sum("l_quantity", 2).alias("sum_qty"),
            _dec_sum("l_extendedprice", 2).alias("sum_base_price"),
            _dec_sum(disc_price, 4).alias("sum_disc_price"),
            _dec_sum(charge, 6).alias("sum_charge"),
            _avg_grain("l_quantity").alias("avg_qty"),
            _avg_grain("l_extendedprice").alias("avg_price"),
            _avg_grain("l_discount").alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q21b_salted_pricing(spark, sf_dir):
    """q21's core aggregates computed through the skew-salting path
    (two-phase salted aggregation) — hash-identical to the plain GROUP BY
    oracle, proving the salted plan changes execution, not semantics.
    Rounding onto the data's decimal grid commutes with regrouping the
    partial sums (same argument as plain parallel partial aggregation)."""
    from biodata_pipeline_spark.operators.skew import salted_agg

    li = _t(spark, sf_dir, "lineitem")
    merged = salted_agg(
        li,
        ["l_returnflag", "l_linestatus"],
        {
            "count_order": F.count("*"),
            "sum_qty": F.sum("l_quantity"),
            "sum_base_price": F.sum("l_extendedprice"),
            "min_price": F.min("l_extendedprice"),
            "max_price": F.max("l_extendedprice"),
        },
        buckets=16,
    )
    return merged.select(
        "l_returnflag",
        "l_linestatus",
        "count_order",
        F.round("sum_qty", 2).alias("sum_qty"),
        F.round("sum_base_price", 2).alias("sum_base_price"),
        F.round("min_price", 2).alias("min_price"),
        F.round("max_price", 2).alias("max_price"),
    )


def q_salted_join_parity(spark, sf_dir):
    """The salted-join path is semantics-preserving (operators/skew.py:
    salted_join — salt the skewed side, replicate the small side, join on
    keys+salt): orders joined to customer through it, rolled up per market
    segment, hash-identical to the plain equi-join oracle. The companion
    of q21b, which proves the same for salted aggregation. Partials sum on
    the decimal grid so the regrouped merge is exact at any SF."""
    from biodata_pipeline_spark.operators.skew import salted_join

    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"), "o_totalprice"
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = salted_join(orders, cust, ["c_custkey"], buckets=8)
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        _dec_sum("o_totalprice", 2).alias("sum_total"),
    )


def q22_length_bucket_group(spark, sf_dir):
    """Length-bucket grouping (group_by_length, RAG-eval-create_model.py:142)."""
    docs = _t(spark, sf_dir, "documents")
    bucket = (F.floor(F.length("text") / 100) * 100).cast("long")
    return docs.groupBy(bucket.alias("len_bucket")).agg(
        F.count("*").alias("n_docs"),
        # integer sums divide exactly — identical doubles on both engines
        (F.sum(F.length("text")) / F.count("*")).alias("avg_len"),
    )


def q21c_percentiles(spark, sf_dir):
    """Exact interpolated percentiles (median / p95) per group — the
    distribution-shape aggregates a metrics rollup needs beyond sums.
    Spark ``percentile`` and DuckDB ``quantile_cont`` both compute the
    exact interpolated order statistic; rounding to 4dp absorbs ulp
    differences in the interpolation arithmetic.

    The scan is spread before the aggregate (r16): the exact-percentile
    partial agg buffers every value, and the single-row-group testdata
    file pins that work to one task; order statistics are
    partitioning-independent, so the spread cannot change the result."""
    from biodata_pipeline_spark.sources.tables import spread_small_scan

    li = spread_small_scan(_t(spark, sf_dir, "lineitem"), spark, sf_dir,
                           "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("median_price"),
        F.round(F.expr("percentile(l_extendedprice, 0.95)"), 4).alias("p95_price"),
        F.count("*").alias("n_rows"),
    )


def q21d_approx_percentiles(spark, sf_dir):
    """Approximate percentiles with a self-validating rank-error check
    (VERDICT r5 #6). q21c declares EXACT interpolated percentiles; at
    100 TB the real engine call is ``approx_percentile`` (the GK/KLL
    sketch — same documented swap as approx_count_distinct in
    q_corpus_profile). The sketch's value is engine-specific, so this
    row is rows-only — but it carries its own audit: ``*_in_bound`` is 1
    iff the approx value's exact rank lands inside the sketch's
    guaranteed window [ (q-eps)n, (q+eps)n ] (eps = 1/accuracy), which
    the hash-checked twin ``q_percentile_accuracy_audit`` pins
    cross-engine. Output: (l_returnflag, n_rows, approx_median,
    approx_p95, median_in_bound, p95_in_bound)."""
    li = _t(spark, sf_dir, "lineitem")
    acc = 10_000
    approx = li.groupBy("l_returnflag").agg(
        F.expr(
            f"approx_percentile(l_extendedprice, 0.5, {acc})"
        ).alias("approx_median"),
        F.expr(
            f"approx_percentile(l_extendedprice, 0.95, {acc})"
        ).alias("approx_p95"),
        F.count("*").alias("n_rows"),
    )
    bounds = _percentile_rank_bounds(li, acc=acc)
    return approx.join(bounds, "l_returnflag").select(
        "l_returnflag",
        "n_rows",
        "approx_median",
        "approx_p95",
        F.when(
            (F.col("approx_median") >= F.col("median_lo"))
            & (F.col("approx_median") <= F.col("median_hi")),
            1,
        )
        .otherwise(0)
        .alias("median_in_bound"),
        F.when(
            (F.col("approx_p95") >= F.col("p95_lo"))
            & (F.col("approx_p95") <= F.col("p95_hi")),
            1,
        )
        .otherwise(0)
        .alias("p95_in_bound"),
    )


def _percentile_rank_bounds(li, acc: int):
    """Per-group exact order statistics at the sketch's guaranteed rank
    window: for quantile q and eps = 1/acc the accepted values are those
    at ranks [max(1, floor((q-eps)·n)), min(n, ceil((q+eps)·n))] — any
    eps-accurate percentile sketch MUST return a value inside
    [value@lo_rank, value@hi_rank]. Pure rank selection (row_number over
    the group sort), deterministic in any engine: the k-th smallest of a
    multiset is unique regardless of tie order. Rank arithmetic is kept
    integer-exact — (q·acc ± 1)·n / acc with integer numerators — so
    both engines floor/ceil the SAME rational value (decimal literals
    like 0.4999 round differently as DOUBLE vs DECIMAL)."""
    from pyspark.sql import Window

    w = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    ranked = (
        li.select("l_returnflag", "l_extendedprice")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count("*").over(Window.partitionBy("l_returnflag")))
    )

    def rank_lo(q):
        p = int(round(q * acc)) - 1
        return F.greatest(
            F.lit(1).cast("long"), F.floor(F.lit(p) * F.col("n") / F.lit(acc))
        )

    def rank_hi(q):
        p = int(round(q * acc)) + 1
        return F.least(
            F.col("n"), F.ceil(F.lit(p) * F.col("n") / F.lit(acc))
        )

    def value_at(rank_expr):
        return F.max(
            F.when(F.col("rn") == rank_expr, F.col("l_extendedprice"))
        )

    return ranked.groupBy("l_returnflag").agg(
        value_at(rank_lo(0.5)).alias("median_lo"),
        value_at(rank_hi(0.5)).alias("median_hi"),
        value_at(rank_lo(0.95)).alias("p95_lo"),
        value_at(rank_hi(0.95)).alias("p95_hi"),
    )


def q_percentile_accuracy_audit(spark, sf_dir):
    """Hash-checked accuracy contract for q21d (VERDICT r5 #6): the
    exact per-group rank-window bounds any eps-accurate percentile
    sketch must respect, plus the exact interpolated percentiles for
    scale. Fully deterministic rank selection — the audit-twin pattern
    (cf. the recall audits): the bounds are oracle-checkable even though
    the sketch's own output is not. Output: (l_returnflag, n_rows,
    median_lo, median_hi, p95_lo, p95_hi, exact_median, exact_p95).

    Spread like q21c (r16): rank selection and exact percentiles are
    partitioning-independent, and the scan-side work (projection +
    percentile buffers) is one-task-bound on the single-row-group
    testdata file otherwise (measured 1.3x)."""
    from biodata_pipeline_spark.sources.tables import spread_small_scan

    li = spread_small_scan(_t(spark, sf_dir, "lineitem"), spark, sf_dir,
                           "lineitem")
    bounds = _percentile_rank_bounds(li, acc=10_000)
    exact = li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias(
            "exact_median"
        ),
        F.round(F.expr("percentile(l_extendedprice, 0.95)"), 4).alias(
            "exact_p95"
        ),
        F.count("*").alias("n_rows"),
    )
    return bounds.join(exact, "l_returnflag").select(
        "l_returnflag",
        "n_rows",
        "median_lo",
        "median_hi",
        "p95_lo",
        "p95_hi",
        "exact_median",
        "exact_p95",
    )


def q23_rollup_revenue(spark, sf_dir):
    """Hierarchical rollup region → nation of order revenue."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    o = _t(spark, sf_dir, "orders")
    joined = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return joined.rollup("r_name", "n_name").agg(
        _dec_sum("o_totalprice", 2).alias("revenue"),
        F.count("*").alias("n_orders"),
    )


# --- Q27, Q30, Q31: windows / sorts / top-k -----------------------------------


def q27_row_number_rank(spark, sf_dir):
    """1-based rank of orders per customer by date (RAG-eval-test_model.py:132)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    return o.select(
        "o_custkey", "o_orderkey", F.row_number().over(w).alias("rn")
    )


def q30_orderby_limit_topk(spark, sf_dir):
    """Global top-20 events by JSON prop then value (TakeOrderedAndProject;
    JSON extraction per generate_narratives_from_data.py:52).

    Extraction is a schema-narrowed ``from_json`` — one Jackson parse per
    row into a 1-field struct. Measured ~5x faster than
    ``get_json_object`` at the 100x replica (get_json_object re-tokenizes
    the whole document per call; from_json parses against the projected
    schema), which was q30's dominant cost in SCALING.md."""
    e = _t(spark, sf_dir, "events")
    k = F.from_json("props", "k INT")["k"]
    return (
        e.select("event_id", "user_id", k.alias("k"), "value")
        .orderBy(F.col("k").desc(), F.col("value").desc(), F.col("event_id").asc())
        .limit(20)
    )


def q31_per_group_topk(spark, sf_dir):
    """Latest 3 orders per customer (window top-k, first-hit analog)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    from biodata_pipeline_spark.functions.timefn import ntz_epoch_ms

    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            ntz_epoch_ms(F.col("o_orderdate")).alias("order_ms"),
            "rn",
        )
    )


def q_sql_region_revenue(spark, sf_dir):
    """The SQL entry point: the engine's other front door. Registered
    temp views + ANSI SQL produce the same Catalyst logical plan the
    DataFrame API builds — one optimizer, two dialects. (Every other
    declared query exercises the DataFrame path; this one proves a
    reference user can bring plain SQL unchanged.)"""
    for t in ("orders", "customer", "nation", "region"):
        _t(spark, sf_dir, t).createOrReplaceTempView(f"v_{t}")
    return spark.sql(
        """
        SELECT r_name,
               CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS revenue,
               count(*) AS n_orders
        FROM v_orders
        JOIN v_customer ON o_custkey = c_custkey
        JOIN v_nation ON c_nationkey = n_nationkey
        JOIN v_region ON n_regionkey = r_regionkey
        GROUP BY r_name
        """
    )


def q_upsert_latest(spark, sf_dir):
    """Merge-by-key (the reference's newest-file-wins overwrite,
    generate_narratives_from_data.py:63-72, made relational): split events
    into a base and an updates stream on event-id parity, upsert, and keep
    the winning row per user — highest ts, then highest event_id."""
    from biodata_pipeline_spark.operators.upsert import upsert

    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    base = e.filter(F.pmod(F.col("event_id"), F.lit(2)) == 0)
    updates = e.filter(F.pmod(F.col("event_id"), F.lit(2)) == 1)
    merged = upsert(base, updates, ["user_id"], "ts", "event_id")
    # events.ts is an absolute TIMESTAMP after the loader's tz-free NTZ
    # conversion — unix_millis is epoch-based (no tz math); ntz_epoch_ms
    # here would coerce back through NTZ in the session zone and shift
    # on non-UTC sessions (caught by the round-6 tz probe)
    return merged.select(
        "user_id", "event_id", F.unix_millis("ts").alias("ts_ms"), "value"
    )


# --- Q32-Q34: set operations ---------------------------------------------------


def q31b_collect_ordered(spark, sf_dir):
    """Per-group ordered value collection (the reference's rank-list
    collection, RAG-eval-test_model.py:134-143, as collect_set +
    array_sort). Joined to a string so the oracle hash compares scalars,
    not engine-specific array renderings."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.array_join(
            F.array_sort(F.collect_set("o_orderpriority")), ","
        ).alias("priorities"),
        F.count("*").alias("n_orders"),
    )


def q32_union_all(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT")
    big = o.filter(F.col("o_totalprice") > 400000)
    return urgent.select("o_orderkey", "o_orderpriority").unionByName(
        big.select("o_orderkey", "o_orderpriority")
    )


def q33_except_difference(spark, sf_dir):
    """Work remaining = desired − done (test_all_models_llm_eval_sophia.py:41-53)."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("custkey"))
    done = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("custkey"))
    )
    return c.subtract(done)


def q34_intersect(spark, sf_dir):
    """Runnable work = grid ∩ available (rag_evaluation/test_all_models.py:37-44)."""
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("custkey")
    )
    b = o.filter(F.col("o_orderpriority") == "2-HIGH").select(
        F.col("o_custkey").alias("custkey")
    )
    return a.intersect(b)


SPARK = {
    "q01_text_scan_blank_filter": q01_text_scan_blank_filter,
    "q02_delimited_comment_filter": q02_delimited_comment_filter,
    "q03_prompt_template_projection": q03_prompt_template_projection,
    "q04_alpaca_projection": q04_alpaca_projection,
    "q05_suffix_marker_predicate": q05_suffix_marker_predicate,
    "q06_regex_suffix_strip": q06_regex_suffix_strip,
    "q07_word_boundary_match": q07_word_boundary_match,
    "q08_comment_prefix_filter": q08_comment_prefix_filter,
    "q09_exact_dedup": q09_exact_dedup,
    "q09b_exact_dedup_text": q09b_exact_dedup_text,
    "q10_broadcast_dim_join": q10_broadcast_dim_join,
    "q11_multiway_join_revenue": q11_multiway_join_revenue,
    "q12_semi_join": q12_semi_join,
    "q13_anti_join_manifest": q13_anti_join_manifest,
    "q14_cross_join_grid": q14_cross_join_grid,
    "q14b_sweep_grid_literal": q14b_sweep_grid_literal,
    "q15_range_join_price_bands": q15_range_join_price_bands,
    "q17_left_outer_sentinel": q17_left_outer_sentinel,
    "q18_global_avg": q18_global_avg,
    "q19_avg_of_group_min": q19_avg_of_group_min,
    "q20_grouped_count_distinct": q20_grouped_count_distinct,
    "q21_pricing_summary": q21_pricing_summary,
    "q21b_salted_pricing": q21b_salted_pricing,
    "q_salted_join_parity": q_salted_join_parity,
    "q21c_percentiles": q21c_percentiles,
    "q21d_approx_percentiles": q21d_approx_percentiles,
    "q_percentile_accuracy_audit": q_percentile_accuracy_audit,
    "q22_length_bucket_group": q22_length_bucket_group,
    "q23_rollup_revenue": q23_rollup_revenue,
    "q27_row_number_rank": q27_row_number_rank,
    "q30_orderby_limit_topk": q30_orderby_limit_topk,
    "q31_per_group_topk": q31_per_group_topk,
    "q31b_collect_ordered": q31b_collect_ordered,
    "q_sql_region_revenue": q_sql_region_revenue,
    "q_upsert_latest": q_upsert_latest,
    "q32_union_all": q32_union_all,
    "q33_except_difference": q33_except_difference,
    "q34_intersect": q34_intersect,
}

ORACLE = {
    "q01_text_scan_blank_filter": (
        "SELECT doc_id, text FROM documents WHERE length(trim(text)) > 2"
    ),
    "q02_delimited_comment_filter": """
        SELECT doc_id,
               split_part(text, ' ', 1) AS query,
               NULLIF(split_part(text, ' ', 2), '') AS answer_key
        FROM documents WHERE text NOT LIKE '#%'
    """,
    "q03_prompt_template_projection": """
        SELECT p_partkey,
               'Write a narrative describing this part: {"name": "' || p_name ||
               '", "brand": "' || p_brand || '", "size": ' || CAST(p_size AS VARCHAR) || '}'
               AS prompt
        FROM part
    """,
    "q04_alpaca_projection": """
        SELECT doc_id,
               '### Instruction: ' || chr(10) || 'Learn this biology information. ' ||
               chr(10) || '### Input: ' || chr(10) || text ||
               '### Response :' || chr(10) || text AS alpaca
        FROM documents WHERE length(trim(text)) > 0
    """,
    "q05_suffix_marker_predicate": """
        SELECT doc_id, text FROM documents
        WHERE contains(substr(text, greatest(1, length(text) - 9)), 'table')
    """,
    "q06_regex_suffix_strip": r"""
        SELECT doc_id, regexp_replace(text, '(table|sort)\s*$', '') AS cleaned
        FROM documents
    """,
    "q07_word_boundary_match": r"""
        SELECT doc_id, lang FROM documents
        WHERE regexp_matches(text, '(^|\W)spark($|\W)')
    """,
    "q08_comment_prefix_filter": """
        SELECT lang, count(*) AS n_docs FROM documents
        WHERE text NOT LIKE '#%' GROUP BY lang
    """,
    "q09_exact_dedup": "SELECT DISTINCT l_orderkey, l_partkey FROM lineitem",
    "q09b_exact_dedup_text": r"""
        WITH keyed AS (
            SELECT doc_id, lang, source,
                   min(doc_id) OVER (
                       PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
                   ) AS keeper
            FROM documents
        )
        SELECT doc_id, lang, source FROM keyed WHERE doc_id = keeper
    """,
    "q10_broadcast_dim_join": """
        SELECT r_name, n_name, count(*) AS n_cust,
               CAST(sum(CAST(c_acctbal AS DECIMAL(28,2))) AS DOUBLE) / count(c_acctbal) AS avg_bal
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name
    """,
    "q11_multiway_join_revenue": """
        SELECT n_name, CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    """,
    "q12_semi_join": """
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
    """,
    "q13_anti_join_manifest": """
        SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    """,
    "q14_cross_join_grid": """
        SELECT r_name, o_orderpriority
        FROM region CROSS JOIN (SELECT DISTINCT o_orderpriority FROM orders)
    """,
    "q14b_sweep_grid_literal": """
        WITH t(adapter_type) AS (VALUES ('pathway'), ('ppi'), ('protein_structure'),
                                        ('sp_gene'), ('subsystem')),
             e(epoch) AS (VALUES (0.2), (0.4), (0.6), (0.8), (1.0)),
             k(task) AS (VALUES ('winogrande'), ('gsm8k'))
        SELECT adapter_type, CAST(epoch AS DOUBLE) AS epoch, task,
               adapter_type || '_' || CAST(CAST(epoch AS DOUBLE) AS VARCHAR) || '_' || task AS output_key
        FROM t CROSS JOIN e CROSS JOIN k
    """,
    "q15_range_join_price_bands": """
        WITH bands(band, lo, hi) AS (VALUES ('low', 0.0, 10000.0),
                                            ('mid', 10000.0, 50000.0),
                                            ('high', 50000.0, 1000000000.0))
        SELECT band, count(*) AS n_items, CAST(sum(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS sum_price
        FROM lineitem JOIN bands ON l_extendedprice >= lo AND l_extendedprice < hi
        GROUP BY band
    """,
    "q17_left_outer_sentinel": """
        SELECT c_custkey, CAST(coalesce(cnt, 0) AS BIGINT) AS n_orders
        FROM customer
        LEFT JOIN (SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY o_custkey) o
          ON c_custkey = o.o_custkey
    """,
    "q18_global_avg": (
        "SELECT CAST(sum(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) / count(l_quantity) AS avg_qty FROM lineitem"
    ),
    "q19_avg_of_group_min": """
        SELECT CAST(sum(CAST(m AS DECIMAL(28,2))) AS DOUBLE) / count(m) AS avg_first
        FROM (SELECT o_custkey, min(o_totalprice) AS m FROM orders GROUP BY o_custkey)
    """,
    "q20_grouped_count_distinct": """
        SELECT o_orderpriority, count(*) AS n_orders, count(DISTINCT o_custkey) AS n_cust
        FROM orders GROUP BY o_orderpriority
    """,
    "q21_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS sum_base_price,
               CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS sum_disc_price,
               CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(28,6))) AS DOUBLE) AS sum_charge,
               CAST(sum(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) / count(l_quantity) AS avg_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) / count(l_extendedprice) AS avg_price,
               CAST(sum(CAST(l_discount AS DECIMAL(28,2))) AS DOUBLE) / count(l_discount) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    "q21b_salted_pricing": """
        SELECT l_returnflag, l_linestatus,
               count(*) AS count_order,
               CAST(sum(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS sum_base_price,
               round(min(l_extendedprice), 2) AS min_price,
               round(max(l_extendedprice), 2) AS max_price
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
    """,
    "q_salted_join_parity": """
        SELECT c.c_mktsegment,
               count(*) AS n_orders,
               CAST(sum(CAST(o.o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS sum_total
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment
    """,
    "q21c_percentiles": """
        SELECT l_returnflag,
               round(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
               round(quantile_cont(l_extendedprice, 0.95), 4) AS p95_price,
               count(*) AS n_rows
        FROM lineitem GROUP BY l_returnflag
    """,
    # q21d_approx_percentiles: intentionally NO oracle — approx_percentile
    # is an engine-specific sketch; accuracy is pinned by the hash-checked
    # q_percentile_accuracy_audit bounds plus q21d's own in-bound flags.
    "q_percentile_accuracy_audit": """
        WITH ranked AS (
            SELECT l_returnflag, l_extendedprice,
                   row_number() OVER (PARTITION BY l_returnflag
                                      ORDER BY l_extendedprice) AS rn,
                   count(*) OVER (PARTITION BY l_returnflag) AS n
            FROM lineitem
        ),
        bounds AS (
            SELECT l_returnflag,
                   max(CASE WHEN rn = greatest(1, CAST(floor(4999 * n / 10000) AS BIGINT))
                            THEN l_extendedprice END) AS median_lo,
                   max(CASE WHEN rn = least(n, CAST(ceil(5001 * n / 10000) AS BIGINT))
                            THEN l_extendedprice END) AS median_hi,
                   max(CASE WHEN rn = greatest(1, CAST(floor(9499 * n / 10000) AS BIGINT))
                            THEN l_extendedprice END) AS p95_lo,
                   max(CASE WHEN rn = least(n, CAST(ceil(9501 * n / 10000) AS BIGINT))
                            THEN l_extendedprice END) AS p95_hi
            FROM ranked GROUP BY 1
        ),
        exact AS (
            SELECT l_returnflag,
                   round(quantile_cont(l_extendedprice, 0.5), 4) AS exact_median,
                   round(quantile_cont(l_extendedprice, 0.95), 4) AS exact_p95,
                   count(*) AS n_rows
            FROM lineitem GROUP BY 1
        )
        SELECT b.l_returnflag, e.n_rows,
               b.median_lo, b.median_hi, b.p95_lo, b.p95_hi,
               e.exact_median, e.exact_p95
        FROM bounds b JOIN exact e USING (l_returnflag)
    """,
    "q22_length_bucket_group": """
        SELECT CAST(floor(length(text) / 100) * 100 AS BIGINT) AS len_bucket,
               count(*) AS n_docs,
               CAST(sum(length(text)) AS BIGINT) / count(*) AS avg_len
        FROM documents GROUP BY 1
    """,
    "q23_rollup_revenue": """
        SELECT r_name, n_name, CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS revenue,
               count(*) AS n_orders
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP (r_name, n_name)
    """,
    "q27_row_number_rank": """
        SELECT o_custkey, o_orderkey,
               CAST(row_number() OVER (PARTITION BY o_custkey
                                       ORDER BY o_orderdate, o_orderkey) AS INTEGER) AS rn
        FROM orders
    """,
    "q30_orderby_limit_topk": """
        SELECT event_id, user_id,
               CAST(json_extract_string(props, '$.k') AS INTEGER) AS k, value
        FROM events
        ORDER BY k DESC, value DESC, event_id ASC
        LIMIT 20
    """,
    "q31_per_group_topk": """
        SELECT o_custkey, o_orderkey, epoch_ms(o_orderdate) AS order_ms,
               CAST(rn AS INTEGER) AS rn
        FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
                                           ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
              FROM orders)
        WHERE rn <= 3
    """,
    "q31b_collect_ordered": """
        SELECT o_custkey,
               array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',')
                 AS priorities,
               count(*) AS n_orders
        FROM orders GROUP BY o_custkey
    """,
    "q_sql_region_revenue": """
        SELECT r_name,
               CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS revenue,
               count(*) AS n_orders
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name
    """,
    "q_upsert_latest": """
        SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, value
        FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                           ORDER BY ts DESC, event_id DESC) AS rn
              FROM events)
        WHERE rn = 1
    """,
    "q32_union_all": """
        SELECT o_orderkey, o_orderpriority FROM orders WHERE o_orderpriority = '1-URGENT'
        UNION ALL
        SELECT o_orderkey, o_orderpriority FROM orders WHERE o_totalprice > 400000
    """,
    "q33_except_difference": """
        SELECT c_custkey AS custkey FROM customer
        EXCEPT
        SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
    "q34_intersect": """
        SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        INTERSECT
        SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '2-HIGH'
    """,
}
