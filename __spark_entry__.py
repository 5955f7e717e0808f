"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes the engine's operator inventory (SURVEY.md §2 +
the training-data curation ops) over the driver testdata tables;
``oracle_sql()`` holds the DuckDB-equivalent ANSI SQL. Each query is
registered once, by ``@contract(oracle)`` on its definition, so its
oracle sits beside it. Column names and rounding are kept in lockstep
between the two — the driver's compare hashes values after sorting
columns by name.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
import warnings
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ai_pdf_extraction_spark.plans.partitioning import ensure_parallel
from ai_pdf_extraction_spark.plans.persist import persist


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# the contract: every query registered once, with its oracle beside it
# ---------------------------------------------------------------------------

_CONTRACT: dict[str, tuple[Callable[[SparkSession, str], DataFrame], Callable[[], str]]] = {}


def contract(oracle: Callable[[], str]):
    """Register the decorated query with ``oracle``, a zero-argument
    callable returning its DuckDB oracle SQL. Oracles render only when
    ``oracle_sql()`` runs, never at import (some build golden files),
    and they call the golden-path helpers by their module-global names.
    The query function is returned unchanged."""

    def register(query):
        if query.__name__ in _CONTRACT:
            raise ValueError(f"{query.__name__} is registered twice")
        _CONTRACT[query.__name__] = (query, oracle)
        return query

    return register


def _contract_names() -> list[str]:
    return sorted(_CONTRACT, key=lambda name: int(name[1:name.index("_")]))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every contract query by name, in query-number order."""
    return {name: _CONTRACT[name][0] for name in _contract_names()}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL per query key, rendered now.

    CONTRACT: two oracles are sf-dependent at build time — q23 embeds
    a golden-parquet path materialized from the documents table in
    ``$SPARK_GRAFT_CONTRACT_SF`` (default ``/root/testdata/sf0.01``,
    the driver's compare scale), and q26 embeds k-means centroids
    trained from that dir's embeddings table — both resolved at the
    moment this function is called. A driver comparing at any OTHER sf
    dir must export ``SPARK_GRAFT_CONTRACT_SF=<sf_dir>`` *before*
    calling ``oracle_sql()`` (``tools/check_contract.py`` does) —
    otherwise q23/q26 compare against artifacts built from the wrong
    tables and mismatch loudly. (The q34/q39/q46/q48 goldens are
    sf-independent: they derive from the fixed 600-doc fixture corpus,
    keyed on CORPUS_VERSION + KERNEL_VERSION.)"""
    return {name: _CONTRACT[name][1]() for name in _contract_names()}


def _build_once(path: str, write: Callable[[str], None]) -> str:
    """Build a fixture or golden file (or directory) at ``path`` unless
    it exists: ``write(tmp)`` fills a fresh temp path beside it, which
    is renamed onto ``path`` only after ``write`` returns, so a killed
    or failed build never leaves a partial file for a later call to
    trust. A failed build warns and returns ``path`` with nothing
    there: only the query or oracle reading it fails, loudly, and the
    next call builds it again."""
    if os.path.exists(path):
        return path
    tmp = f"{path}.tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    try:
        write(tmp)
        os.rename(tmp, path)
    except Exception as exc:
        if not os.path.exists(path):  # else a concurrent build won
            warnings.warn(f"could not build {path}: {exc!r}", stacklevel=2)
    finally:
        if os.path.isdir(tmp):
            shutil.rmtree(tmp, ignore_errors=True)
        elif os.path.exists(tmp):
            os.remove(tmp)
    return path


def _ensure_shipped(spark: SparkSession) -> None:
    """Queries that execute Python UDFs referencing module-level
    functions need ``ai_pdf_extraction_spark`` importable on the
    executors' Python workers. The driver harness builds its own
    SparkSession (our ``build_session`` isn't in the loop), so ship
    the package zip here — idempotent, cheap."""
    try:
        from ai_pdf_extraction_spark.session import _ship_package

        _ship_package(spark)
    except Exception as exc:
        # Expected: "path added already" when a zip with the same
        # digest name was shipped by an earlier query. Anything else
        # (unwritable /tmp, zip build failure) must not be silent —
        # executors would later die with a bare ModuleNotFoundError.
        if "added already" not in str(exc):
            warnings.warn(f"package shipping failed: {exc!r}", stacklevel=2)


# ---------------------------------------------------------------------------
# entry: flagship — document curation pipeline (text analysis + dedup)
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: enrich the documents table with token counts, language
    guess, quality score, repetition signals, PII counts, fingerprint,
    and exact-dedup canonical ids — the curation pass a training-data
    pipeline runs after extraction."""
    from ai_pdf_extraction_spark.operators.dedup import exact_dedup
    from ai_pdf_extraction_spark.operators.scrub import pii_counts
    from ai_pdf_extraction_spark.operators.text_analysis import (
        repetition_signals,
        with_text_analysis,
    )

    sf_dir = "/root/testdata/sf0.001"
    docs = _t(spark, sf_dir, "documents")
    counts = pii_counts("text")
    enriched = with_text_analysis(docs).withColumn(
        "n_pii", counts["n_emails"] + counts["n_ips"] + counts["n_phones"]
    )
    dedup = exact_dedup(docs)
    rep = repetition_signals(docs)
    return enriched.join(dedup, "doc_id").join(rep, "doc_id").select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        "n_tokens",
        "lang_guess",
        "quality",
        "dup_word_ratio",
        "top_bigram_share",
        "n_pii",
        "fingerprint",
        "canonical_id",
        "group_size",
        "is_dup",
    )


# ---------------------------------------------------------------------------
# relational operator queries (SURVEY.md §2.2-2.6)
# ---------------------------------------------------------------------------


@contract(lambda: """
select l_returnflag, l_linestatus,
  sum(cast(l_quantity as decimal(18,6)))::double as sum_qty,
  sum(cast(l_extendedprice as decimal(18,6)))::double as sum_base_price,
  sum(cast(l_extendedprice * (1 - l_discount) as decimal(18,6)))::double
    as sum_disc_price,
  round(avg(l_quantity), 4) as avg_qty,
  round(avg(l_discount), 4) as avg_disc,
  count(*) as count_order
from lineitem
where l_shipdate <= timestamp '1998-09-02'
group by l_returnflag, l_linestatus
""")
def q01_pricing_summary(spark, sf_dir):
    """Hash aggregation with partial/final combine (SURVEY.md §2.4)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # sums go through DECIMAL so partition order can't move a
            # cents-rounding boundary (exact arithmetic both engines)
            F.sum(F.col("l_quantity").cast("decimal(18,6)"))
            .cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,6)"))
            .cast("double").alias("sum_base_price"),
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,6)"
                )
            ).cast("double").alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@contract(lambda: """
select sum(cast(l_extendedprice * l_discount as decimal(18,6)))::double as revenue
from lineitem
where l_shipdate >= timestamp '1995-01-01'
  and l_shipdate < timestamp '1996-01-01'
  and l_discount between 0.05 and 0.07
  and l_quantity < 24
""")
def q02_filtered_revenue(spark, sf_dir):
    """Predicate-pushdown scan + single global agg (§2.2 P1/P2 analogue)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-01-01"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.sum(
            (F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(18,6)")
        ).cast("double").alias("revenue")
    )


@contract(lambda: """
select r.r_name as region, n.n_name as nation,
  count(*) as n_customers, round(sum(c.c_acctbal), 2) as sum_acctbal
from customer c
join nation n on c.c_nationkey = n.n_nationkey
join region r on n.n_regionkey = r.r_regionkey
group by 1, 2
""")
def q03_region_nation_rollup(spark, sf_dir):
    """Broadcast dimension joins (§2.3 J1/J3): customer⋈nation⋈region."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
        )
    )


@contract(lambda: """
select o_orderpriority, count(*) as order_count
from orders
where o_orderdate >= timestamp '1996-01-01'
  and o_orderdate < timestamp '1997-01-01'
group by o_orderpriority
""")
def q04_order_priority_counts(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01"))
            & (F.col("o_orderdate") < F.lit("1997-01-01"))
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@contract(lambda: """
select c_custkey, c_name, c_mktsegment
from customer
where c_custkey not in
  (select o_custkey from orders where o_orderpriority = '1-URGENT')
""")
def q05_customers_without_orders(spark, sf_dir):
    """Left-anti join (§2.3 J4 missing-set semantics): customers with
    no URGENT order (every customer has some order in this corpus, so
    the anti-join is restricted to make the result non-trivial)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@contract(lambda: """
select n.n_name as nation, count(*) as n_suppliers
from supplier s
join nation n on s.s_nationkey = n.n_nationkey
where exists (select 1 from lineitem li
              where li.l_suppkey = s.s_suppkey and li.l_quantity >= 48)
group by 1
""")
def q06_supplier_big_items(spark, sf_dir):
    """Left-semi join + dimension rollup."""
    s = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem")
    n = _t(spark, sf_dir, "nation")
    big = li.filter(F.col("l_quantity") >= 48)
    return (
        s.join(big, s.s_suppkey == big.l_suppkey, "left_semi")
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count("*").alias("n_suppliers"))
    )


@contract(lambda: """
select o_custkey, o_orderkey, round(o_totalprice, 2) as totalprice, rn
from (
  select o_custkey, o_orderkey, o_totalprice,
    row_number() over (partition by o_custkey
                       order by o_totalprice desc, o_orderkey asc) as rn
  from orders
)
where rn <= 3
""")
def q07_top_orders_per_customer(spark, sf_dir):
    """Ranking window: top-3 orders per customer by totalprice."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("totalprice"), "rn")
    )


@contract(lambda: """
select distinct o_custkey as custkey from orders
except
select distinct o_custkey as custkey from orders where o_orderpriority = '1-URGENT'
""")
def q08_active_minus_urgent(spark, sf_dir):
    """Set op (§2.6): customers with orders EXCEPT customers with
    urgent orders."""
    o = _t(spark, sf_dir, "orders")
    active = o.select(F.col("o_custkey").alias("custkey")).distinct()
    urgent = (
        o.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("custkey"))
        .distinct()
    )
    return active.exceptAll(urgent)


@contract(lambda: """
select o_orderstatus,
  count(*) as n_items,
  round(avg(l_extendedprice), 4) as avg_price,
  sum(cast(l_quantity * (1 - l_discount) as decimal(18,6)))::double as eff_qty
from orders join lineitem on o_orderkey = l_orderkey
group by o_orderstatus
""")
def q09_order_lineitem_stats(spark, sf_dir):
    """Fact-fact equi-join + multi-agg (§2.3 J2 analogue)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.sum(
                (F.col("l_quantity") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
            ).cast("double").alias("eff_qty"),
        )
    )


@contract(lambda: """
select o_orderkey, o_orderdate, round(o_totalprice, 2) as totalprice
from orders
order by o_orderdate desc, o_orderkey asc
limit 50
""")
def q10_latest_orders(spark, sf_dir):
    """Sort + limit — the reference's history pagination
    (``routers/history.py:44-68``, §2.5 O1)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_orderdate"), F.asc("o_orderkey"))
        .limit(50)
        .select("o_orderkey", "o_orderdate", F.round("o_totalprice", 2).alias("totalprice"))
    )


@contract(lambda: """
select count(*) as total,
  sum(case when o_orderstatus = 'F' then 1 else 0 end)::bigint as n_finished,
  sum(case when o_orderstatus = 'O' then 1 else 0 end)::bigint as n_open,
  sum(case when o_orderstatus = 'P' then 1 else 0 end)::bigint as n_pending,
  sum(cast(case when o_orderstatus = 'F' then o_totalprice else 0.0 end
           as decimal(18,6)))::double as finished_value
from orders
""")
def q11_status_rollup(spark, sf_dir):
    """Conditional counters — the reference's batch success/fail
    counters (``routers/batches.py:221-241``, §2.4 A8)."""
    o = _t(spark, sf_dir, "orders")
    return o.agg(
        F.count("*").alias("total"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("n_finished"),
        F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0)).alias("n_open"),
        F.sum(F.when(F.col("o_orderstatus") == "P", 1).otherwise(0)).alias("n_pending"),
        F.sum(
            F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice"))
            .otherwise(0.0)
            .cast("decimal(18,6)")
        ).cast("double").alias("finished_value"),
    )


@contract(lambda: """
select substr(sha256(text), 1, 1) as bucket, count(*) as n_docs
from documents group by 1
""")
def q12_sha_bucketing(spark, sf_dir):
    """Content-hash bucketing — sha256 dedup/partition key
    (``routers/batches.py:381-382``, §2.2 P3 / §4 X7)."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(F.substring(F.sha2(F.col("text"), 256), 1, 1).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_docs"))
    )


@contract(lambda: """
select o_orderkey,
  try_strptime(strftime(o_orderdate, '%m/%d/%Y'), '%m/%d/%Y')::date as order_date,
  case when o_orderstatus = 'O' then true
       when o_orderstatus = 'F' then false
       else null end as is_open,
  try_cast(replace(cast(cast(round(o_totalprice / 1000.0, 0) as int) as varchar)
                   || '%', '%', '') as double) as kprice_pct
from orders
""")
def q13_scalar_normalizers(spark, sf_dir):
    """Typed-value normalizers (§2.7 F2/F4/F6) applied cross-engine:
    date round-trip, boolean coercion, percentage parse."""
    from ai_pdf_extraction_spark.functions.normalize import (
        parse_boolean,
        parse_date,
        parse_percentage,
    )

    o = _t(spark, sf_dir, "orders")
    status_word = (
        F.when(F.col("o_orderstatus") == "O", "yes")
        .when(F.col("o_orderstatus") == "F", "no")
        .otherwise("maybe")
    )
    pct_str = F.concat(
        F.round(F.col("o_totalprice") / 1000.0, 0).cast("int").cast("string"),
        F.lit("%"),
    )
    return o.select(
        "o_orderkey",
        parse_date(F.date_format("o_orderdate", "MM/dd/yyyy")).alias("order_date"),
        parse_boolean(status_word).alias("is_open"),
        parse_percentage(pct_str).alias("kprice_pct"),
    )


@contract(lambda: """
with sums as (
  select l_orderkey,
    sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) as gross_sum
  from lineitem group by 1
)
select o_orderkey,
  abs(o_totalprice - gross_sum)
    <= greatest(0.01 * abs(o_totalprice), 0.01 * abs(gross_sum), 0.02) as rule_ok
from orders join sums on o_orderkey = l_orderkey
""")
def q14_order_total_rule(spark, sf_dir):
    """Rule engine (§2.7 F8): ``o_totalprice == sum(lineitem gross)``
    within the reference tolerance max(1%·l, 1%·r, 0.02)."""
    from ai_pdf_extraction_spark.functions.rules import compile_rule

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    sums = li.groupBy("l_orderkey").agg(
        F.sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
        ).alias("gross_sum")
    )
    joined = o.join(sums, o.o_orderkey == sums.l_orderkey)
    rule_ok = compile_rule(
        "o_totalprice == gross_sum",
        {"o_totalprice": F.col("o_totalprice"), "gross_sum": F.col("gross_sum")},
    )
    # NOTE: no rounded-sum column here — a float sum rounded to cents
    # lands exactly on a rounding boundary once in ~10^5 rows, and
    # Spark's partition-order summation then disagrees with a
    # sequential oracle by one cent (observed at sf0.1). rule_ok's
    # percent-scale tolerance is immune to that noise.
    return joined.select("o_orderkey", rule_ok.alias("rule_ok"))


@contract(lambda: """
select o_custkey,
  replace(array_to_string(list_sort(list(o_orderpriority)), ' | '), ',', '; ')
    as priorities_csv,
  count(*) as n_orders
from orders group by o_custkey
""")
def q15_csv_export_rows(spark, sf_dir):
    """CSV-export array flattening — the reference's
    ``' | '``-join with ``','→'; '`` (``EditableResultsTable.tsx:202-265``,
    §2.1 S9 / §2.7 F14)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.replace(
            F.concat_ws(" | ", F.array_sort(F.collect_list("o_orderpriority"))),
            F.lit(","),
            F.lit("; "),
        ).alias("priorities_csv"),
        F.count("*").alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# text analysis (documents)
# ---------------------------------------------------------------------------


@contract(lambda: """
select doc_id,
  case when length(trim(text)) = 0 then 0
       else len(regexp_split_to_array(trim(text), '\\s+')) end as n_tokens
from documents
""")
def q16_token_counts(spark, sf_dir):
    from ai_pdf_extraction_spark.operators.text_analysis import token_count

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", token_count("text").alias("n_tokens"))


_LANG_SCORE_EXPRS = {
    lang: " + ".join(
        f"cast((length(padded) - length(replace(padded, '{m}', ''))) / {len(m)} as bigint)"
        for m in markers
    )
    for lang, markers in {
        "en": (" the ", " and ", " of ", " to "),
        "de": (" der ", " die ", " und ", " das "),
        "fr": (" le ", " la ", " et ", " les "),
        "es": (" el ", " los ", " que ", " y "),
    }.items()
}
_LANG_SQL = f"""
with scored as (
  select doc_id,
    {_LANG_SCORE_EXPRS['en']} as score_en,
    {_LANG_SCORE_EXPRS['de']} as score_de,
    {_LANG_SCORE_EXPRS['fr']} as score_fr,
    {_LANG_SCORE_EXPRS['es']} as score_es
  from (select doc_id, ' ' || lower(text) || ' ' as padded from documents)
)
select doc_id, score_en, score_de, score_fr, score_es,
  case when greatest(score_en, score_de, score_fr, score_es) = 0 then 'und'
       when score_en = greatest(score_en, score_de, score_fr, score_es) then 'en'
       when score_de = greatest(score_en, score_de, score_fr, score_es) then 'de'
       when score_fr = greatest(score_en, score_de, score_fr, score_es) then 'fr'
       else 'es' end as lang_guess
from scored
"""


@contract(lambda: _LANG_SQL)
def q17_lang_marker_profile(spark, sf_dir):
    from ai_pdf_extraction_spark.operators.text_analysis import lang_guess, lang_scores

    d = _t(spark, sf_dir, "documents")
    scores = lang_scores("text")
    return d.select(
        "doc_id",
        scores["en"].alias("score_en"),
        scores["de"].alias("score_de"),
        scores["fr"].alias("score_fr"),
        scores["es"].alias("score_es"),
        lang_guess("text").alias("lang_guess"),
    )


@contract(lambda: _QUALITY_SQL)
def q18_quality_scores(spark, sf_dir):
    from ai_pdf_extraction_spark.operators.text_analysis import quality_score

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", quality_score("text").alias("quality"))


@contract(lambda: f"select doc_id, {_FINGERPRINT_EXPR} as fingerprint from documents")
def q19_fingerprints(spark, sf_dir):
    from ai_pdf_extraction_spark.operators.text_analysis import fingerprint

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint("text").alias("fingerprint"))


# ---------------------------------------------------------------------------
# dedup family (documents / embeddings)
# ---------------------------------------------------------------------------


@contract(lambda: f"""
with fp as (select doc_id, coalesce({_FINGERPRINT_EXPR}, 'null-text') as fp
            from documents),
groups as (select fp, min(doc_id) as canonical_id, count(*) as group_size
           from fp group by fp)
select doc_id, canonical_id, group_size, doc_id != canonical_id as is_dup
from fp join groups using (fp)
""")
def q20_exact_dedup(spark, sf_dir):
    from ai_pdf_extraction_spark.operators.dedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents"))


@contract(lambda: f"""
with {_SHINGLES_CTE}
select id_a, id_b, jaccard from jacc where jaccard >= 0.8
""")
def q21_ngram_jaccard_pairs(spark, sf_dir):
    from ai_pdf_extraction_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), n=3, threshold=0.8
    )


def _minhash_sql(k: int = 12, bands: int = 4) -> str:
    return f"""
with {_minhash_cte(k, bands)}
select cand.id_a, cand.id_b, jacc.jaccard
from cand join jacc on cand.id_a = jacc.id_a and cand.id_b = jacc.id_b
where jacc.jaccard >= 0.8
"""


@contract(_minhash_sql)
def q22_minhash_lsh_pairs(spark, sf_dir):
    from ai_pdf_extraction_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), n=3, k=12, bands=4, threshold=0.8
    )


def _q23_golden_path() -> str:
    """Golden parquet for the 64-bit SimHash oracle: DuckDB has no
    xxhash64, so the oracle is an independent pure-Python XXH64 +
    SimHash computed single-process from the contract documents table
    (``oracle/xxh64.py``), pinned against Spark in pytest. The cache
    key covers the twin's semantics version AND the source table
    digest (``_sf_documents_golden``)."""
    from ai_pdf_extraction_spark.oracle.xxh64 import (
        TWIN_VERSION,
        write_simhash_golden,
    )

    return _sf_documents_golden(
        f"/tmp/spark_graft_simhash64_golden_t{TWIN_VERSION}",
        "",
        write_simhash_golden,
    )


def _sf_documents_golden(prefix: str, salt: str, write) -> str:
    """Golden parquet computed single-process from the contract sf
    dir's documents table: ``{prefix}_{sf tag}_{digest}.parquet``,
    built once by ``write(src, tmp)``. The sf dir comes from
    ``SPARK_GRAFT_CONTRACT_SF`` (set by ``tools/check_contract.py``)
    and defaults to the driver's sf0.01. The digest covers the source
    table's (mtime_ns, size) plus ``salt`` (the oracle's own model or
    table digest, ``|``-prefixed), so a regenerated parquet or a
    retrained model never compares against a stale golden."""
    import hashlib

    sf_dir = os.environ.get("SPARK_GRAFT_CONTRACT_SF", "/root/testdata/sf0.01")
    src = os.path.join(sf_dir, "documents.parquet")
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    if os.path.exists(src):
        st = os.stat(src)
        digest = hashlib.md5(
            f"{st.st_mtime_ns}|{st.st_size}{salt}".encode()
        ).hexdigest()[:12]
    else:
        digest = "missing"
    out = f"{prefix}_{tag}_{digest}.parquet"
    if os.path.exists(src):
        _build_once(out, lambda tmp: write(src, tmp))
    return out


# q23: xxhash64 has no DuckDB twin — oracle is a golden parquet
# from an independent pure-Python XXH64+SimHash (oracle/xxh64.py)
@contract(lambda: f"""
select doc_id, simhash, band0, band1, band2, band3
from read_parquet('{_q23_golden_path()}')
""")
def q23_simhash_sketch(spark, sf_dir):
    from ai_pdf_extraction_spark.operators.dedup import simhash_sketch

    return simhash_sketch(_t(spark, sf_dir, "documents"))


@contract(lambda: """
with tok as (
  select doc_id,
         unnest(list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+'))) as w
  from documents
), h as (
  select doc_id, ('0x' || substr(md5(w), 1, 4))::int as hv from tok
), b as (
  select doc_id,
    sum(case when (hv >> 0) & 1 = 1 then 1 else -1 end) as s0,
    sum(case when (hv >> 1) & 1 = 1 then 1 else -1 end) as s1,
    sum(case when (hv >> 2) & 1 = 1 then 1 else -1 end) as s2,
    sum(case when (hv >> 3) & 1 = 1 then 1 else -1 end) as s3,
    sum(case when (hv >> 4) & 1 = 1 then 1 else -1 end) as s4,
    sum(case when (hv >> 5) & 1 = 1 then 1 else -1 end) as s5,
    sum(case when (hv >> 6) & 1 = 1 then 1 else -1 end) as s6,
    sum(case when (hv >> 7) & 1 = 1 then 1 else -1 end) as s7,
    sum(case when (hv >> 8) & 1 = 1 then 1 else -1 end) as s8,
    sum(case when (hv >> 9) & 1 = 1 then 1 else -1 end) as s9,
    sum(case when (hv >> 10) & 1 = 1 then 1 else -1 end) as s10,
    sum(case when (hv >> 11) & 1 = 1 then 1 else -1 end) as s11,
    sum(case when (hv >> 12) & 1 = 1 then 1 else -1 end) as s12,
    sum(case when (hv >> 13) & 1 = 1 then 1 else -1 end) as s13,
    sum(case when (hv >> 14) & 1 = 1 then 1 else -1 end) as s14,
    sum(case when (hv >> 15) & 1 = 1 then 1 else -1 end) as s15
  from h group by doc_id
)
select doc_id, ((case when s0 > 0 then 1 else 0 end) + (case when s1 > 0 then 2 else 0 end) + (case when s2 > 0 then 4 else 0 end) + (case when s3 > 0 then 8 else 0 end) + (case when s4 > 0 then 16 else 0 end) + (case when s5 > 0 then 32 else 0 end) + (case when s6 > 0 then 64 else 0 end) + (case when s7 > 0 then 128 else 0 end) + (case when s8 > 0 then 256 else 0 end) + (case when s9 > 0 then 512 else 0 end) + (case when s10 > 0 then 1024 else 0 end) + (case when s11 > 0 then 2048 else 0 end) + (case when s12 > 0 then 4096 else 0 end) + (case when s13 > 0 then 8192 else 0 end) + (case when s14 > 0 then 16384 else 0 end) + (case when s15 > 0 then 32768 else 0 end))::int as simhash16 from b
""")
def q35_simhash16(spark, sf_dir):
    """Oracle-checked 16-bit SimHash (md5-based); q23 is the 64-bit
    xxhash64 production variant (checked against a golden parquet)."""
    from ai_pdf_extraction_spark.operators.dedup import simhash16_sketch

    return simhash16_sketch(_t(spark, sf_dir, "documents"))


@contract(lambda: f"""
select * from (
  select a.vec_id as id_a, b.vec_id as id_b,
    {_COS_EXPR.format(r=4)} as cos
  from embeddings a join embeddings b on a.vec_id < b.vec_id
) where cos >= 0.45
""")
def q24_embedding_near_dup(spark, sf_dir):
    _ensure_shipped(spark)
    from ai_pdf_extraction_spark.operators.dedup import embedding_near_dup_pairs

    return embedding_near_dup_pairs(_t(spark, sf_dir, "embeddings"), threshold=0.45)


# ---------------------------------------------------------------------------
# similarity search (embeddings)
# ---------------------------------------------------------------------------


@contract(lambda: f"""
with scored as (
  select b.vec_id as query_id, a.vec_id as neighbor_id,
    {_COS_EXPR.format(r=6)} as cos
  from embeddings a
  join embeddings b on b.vec_id < 5 and a.vec_id != b.vec_id
)
select query_id, neighbor_id, cos, rank from (
  select *, row_number() over (partition by query_id
                               order by cos desc, neighbor_id asc) as rank
  from scored
) where rank <= 5
""")
def q25_ann_topk(spark, sf_dir):
    from ai_pdf_extraction_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return cosine_topk(emb, queries, k=5)


_IVF_CACHE: dict[str, list] = {}


def _ivf_centroids(sf_dir: str) -> list:
    """Deterministic k-means coarse quantizer for ``sf_dir``'s
    embeddings table (trained once per path; Spark-free so
    ``oracle_sql()`` trains the identical centroids — same
    ``SPARK_GRAFT_CONTRACT_SF`` contract as the q23 golden)."""
    path = os.path.join(sf_dir, "embeddings.parquet")
    got = _IVF_CACHE.get(path)
    if got is None:
        from ai_pdf_extraction_spark.operators.similarity import (
            load_embedding_sample,
            train_ivf_centroids,
        )

        got = train_ivf_centroids(
            load_embedding_sample(path), n_clusters=8, n_iters=10, seed=13
        )
        _IVF_CACHE[path] = got
    return got


_PQ_CACHE: dict[str, list] = {}


def _pq_codebooks(sf_dir: str) -> list:
    """Deterministic per-subspace PQ codebooks for ``sf_dir``'s
    embeddings table (trained once per path; Spark-free — the oracle
    trains the identical books, the ``_ivf_centroids`` contract)."""
    path = os.path.join(sf_dir, "embeddings.parquet")
    got = _PQ_CACHE.get(path)
    if got is None:
        from ai_pdf_extraction_spark.operators.similarity import (
            load_embedding_sample,
            train_pq_codebooks,
        )

        got = train_pq_codebooks(
            load_embedding_sample(path), m=8, n_codes=16, n_iters=10, seed=17
        )
        _PQ_CACHE[path] = got
    return got


def _pq_codebooks_residual(sf_dir: str) -> list:
    """Residual-trained PQ codebooks (Jégou 2011 §III / FAISS IVFPQ
    default): the SAME sample and (m, n_codes, seed) budget as
    ``_pq_codebooks``, but k-means runs on ``x − centroid[coarse]``
    (assignment via the plan's round-6 first-match rule) — the q61
    oracle trains the identical books Spark-free."""
    path = os.path.join(sf_dir, "embeddings.parquet")
    key = path + "#res"
    got = _PQ_CACHE.get(key)
    if got is None:
        from ai_pdf_extraction_spark.operators.similarity import (
            load_embedding_sample,
            train_pq_codebooks,
        )

        got = train_pq_codebooks(
            load_embedding_sample(path), m=8, n_codes=16, n_iters=10, seed=17,
            centroids=_ivf_centroids(sf_dir),
        )
        _PQ_CACHE[key] = got
    return got


def _ensure_pq_codes(spark, sf_dir, residual: bool = False) -> str:
    """Materialized PQ codes **at rest** for ``sf_dir``'s embeddings:
    (vec_id, codes, coarse) encoded ONCE via ``pq_codes`` and written
    to parquet — m small ints + one coarse id per vector instead of
    4·d bytes. q56/q58 (and q61 with ``residual=True``: codes of
    x − centroid[coarse], trained on residuals) read this relation back
    and never touch the vector column on the corpus side, which is the
    production shape (encode on ingest, store codes, scan codes per
    query). ONE cache protocol for both modes (review r6): keyed on
    PQ_CODES_VERSION + training params + the source path + a ``_res``
    suffix so raw and residual codes can never silently mix; built by
    ``_build_once`` like every other fixture cache."""
    import hashlib

    from ai_pdf_extraction_spark.operators.similarity import (
        PQ_CODES_VERSION,
        pq_codes,
    )

    src = os.path.join(sf_dir, "embeddings.parquet")
    key = hashlib.md5(src.encode()).hexdigest()[:12]
    suffix = "res_" if residual else ""
    path = (
        f"/tmp/spark_graft_pq_codes_v{PQ_CODES_VERSION}"
        f"_m8c16s17_ivf8s13_{suffix}{key}"
    )

    def write(tmp: str) -> None:
        books = (
            _pq_codebooks_residual(sf_dir) if residual else _pq_codebooks(sf_dir)
        )
        pq_codes(
            _t(spark, sf_dir, "embeddings"),
            books,
            centroids=_ivf_centroids(sf_dir),
            residual=residual,
        ).write.parquet(tmp)

    return _build_once(path, write)


def _pq_sql(codebooks: list, k: int = 5) -> str:
    """q56 oracle: the SAME trained codebook literals as the Spark
    plan — per-subspace distance arrays double as the encode argmin
    (list_position first-match, the ivf rule) and the query-side ADC
    lookup tables, exactly like ``_sql_d2_array`` on the Spark
    side."""
    m, sub = len(codebooks), len(codebooks[0][0])

    def dist(slice_expr: str, c: list) -> str:
        lit = "[" + ", ".join(repr(x) for x in c) + "]"
        return (
            f"round(list_sum(list_transform(list_zip({slice_expr}, {lit}), "
            "x -> (x[1]::DOUBLE - x[2]) * (x[1]::DOUBLE - x[2]))), 6)"
        )

    cols = ["vec_id"]
    for s, book in enumerate(codebooks):
        sl = f"embedding[{s * sub + 1}:{(s + 1) * sub}]"
        dlist = ", ".join(dist(sl, c) for c in book)
        cols.append(f"[{dlist}] as dl{s}")
        cols.append(f"list_position(dl{s}, list_min(dl{s})) - 1 as code{s}")
    enc_cols = ",\n    ".join(cols)
    approx = " + ".join(f"b.dl{s}[a.code{s} + 1]" for s in range(m))
    return f"""
with enc as (
  select {enc_cols}
  from embeddings
),
scored as (
  select b.vec_id as query_id, a.vec_id as neighbor_id,
    round({approx}, 6) as approx_d2
  from enc a
  join enc b on b.vec_id < 5 and a.vec_id != b.vec_id
)
select query_id, neighbor_id, approx_d2, rank from (
  select *, row_number() over (partition by query_id
                               order by approx_d2 asc, neighbor_id asc) as rank
  from scored
) where rank <= {k}
"""


def _q56_oracle_sql() -> str:
    """q56 oracle with the q26 degradation contract: codebook-training
    failure breaks only q56, loudly, at execution."""
    try:
        return _pq_sql(
            _pq_codebooks(
                os.environ.get("SPARK_GRAFT_CONTRACT_SF", "/root/testdata/sf0.01")
            )
        )
    except Exception:
        return (
            "select * from read_parquet("
            "'/nonexistent/q56_pq_codebook_training_failed')"
        )


@contract(_q56_oracle_sql)
def q56_pq_topk(spark, sf_dir):
    """Product-quantization ANN (ADC): trained per-subspace codebooks
    as plan-time literals, corpus rows reduced to code arrays, query
    rows carrying per-subspace distance LUTs — the approximate
    distance in the join is m array lookups, never full-vector math.
    The corpus codes are PRECOMPUTED (``_ensure_pq_codes``: encode
    once, store m ints/vector, read back) — the memory shape that
    makes 10^12-vector exhaustive scans feasible, realized across
    queries instead of re-encoded per plan."""
    from ai_pdf_extraction_spark.operators.similarity import pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    codes = spark.read.parquet(_ensure_pq_codes(spark, sf_dir))
    return pq_topk(None, queries, _pq_codebooks(sf_dir), k=5, codes=codes)


def _ivfpq_sql(centroids: list, codebooks: list, k: int = 5) -> str:
    """q58 oracle: the q26 cluster-argmin CTE composed with the q56
    code/LUT CTE — at nprobe=1 the probe set is the query's own
    cluster, so the join predicate is plain cluster equality."""
    m, sub = len(codebooks), len(codebooks[0][0])

    def cdist(c: list) -> str:
        lit = "[" + ", ".join(repr(x) for x in c) + "]"
        return (
            "round(list_sum(list_transform(list_zip(embedding, " + lit + "), "
            "x -> (x[1]::DOUBLE - x[2]) * (x[1]::DOUBLE - x[2]))), 6)"
        )

    def sdist(slice_expr: str, c: list) -> str:
        lit = "[" + ", ".join(repr(x) for x in c) + "]"
        return (
            f"round(list_sum(list_transform(list_zip({slice_expr}, {lit}), "
            "x -> (x[1]::DOUBLE - x[2]) * (x[1]::DOUBLE - x[2]))), 6)"
        )

    cols = ["vec_id", "[" + ", ".join(cdist(c) for c in centroids) + "] as cdl",
            "list_position(cdl, list_min(cdl)) - 1 as cluster"]
    for s, book in enumerate(codebooks):
        sl = f"embedding[{s * sub + 1}:{(s + 1) * sub}]"
        dlist = ", ".join(sdist(sl, c) for c in book)
        cols.append(f"[{dlist}] as dl{s}")
        cols.append(f"list_position(dl{s}, list_min(dl{s})) - 1 as code{s}")
    enc_cols = ",\n    ".join(cols)
    approx = " + ".join(f"b.dl{s}[a.code{s} + 1]" for s in range(m))
    return f"""
with enc as (
  select {enc_cols}
  from embeddings
),
scored as (
  select b.vec_id as query_id, a.vec_id as neighbor_id,
    round({approx}, 6) as approx_d2
  from enc a
  join enc b on b.vec_id < 5 and a.vec_id != b.vec_id
            and a.cluster = b.cluster
)
select query_id, neighbor_id, approx_d2, rank from (
  select *, row_number() over (partition by query_id
                               order by approx_d2 asc, neighbor_id asc) as rank
  from scored
) where rank <= {k}
"""


def _q58_oracle_sql() -> str:
    """q58 oracle with the q26/q56 degradation contract."""
    try:
        sf = os.environ.get("SPARK_GRAFT_CONTRACT_SF", "/root/testdata/sf0.01")
        return _ivfpq_sql(_ivf_centroids(sf), _pq_codebooks(sf))
    except Exception:
        return (
            "select * from read_parquet("
            "'/nonexistent/q58_ivfpq_training_failed')"
        )


@contract(_q58_oracle_sql)
def q58_ivfpq_topk(spark, sf_dir):
    """IVF-PQ (FAISS's 10^12-vector index shape): coarse-cluster
    candidate restriction composed with ADC-over-codes scoring — both
    trained quantizers as plan literals, the oracle generated from the
    identical centroid and codebook arrays. Corpus side reads the
    at-rest (codes, coarse) relation (``_ensure_pq_codes``), so the
    query-time scan touches codes only."""
    from ai_pdf_extraction_spark.operators.similarity import ivfpq_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    codes = spark.read.parquet(_ensure_pq_codes(spark, sf_dir))
    return ivfpq_topk(
        None,
        queries,
        _ivf_centroids(sf_dir),
        _pq_codebooks(sf_dir),
        k=5,
        nprobe=1,
        codes=codes,
    )


def _ivfpq_residual_sql(centroids: list, codebooks: list, k: int = 5) -> str:
    """q61 oracle: the q58 shape with RESIDUAL encoding — each vector's
    residual against its own cluster's centroid (nested-list literal
    indexed by the cluster argmin) feeds both the code argmin and the
    query-side LUTs; at nprobe=1 the probed cluster IS the query's own,
    so cluster equality keeps LUT and codes referring to the same
    centroid."""
    m, sub = len(codebooks), len(codebooks[0][0])

    def cdist(c: list) -> str:
        lit = "[" + ", ".join(repr(x) for x in c) + "]"
        return (
            "round(list_sum(list_transform(list_zip(embedding, " + lit + "), "
            "x -> (x[1]::DOUBLE - x[2]) * (x[1]::DOUBLE - x[2]))), 6)"
        )

    def sdist(slice_expr: str, c: list) -> str:
        lit = "[" + ", ".join(repr(x) for x in c) + "]"
        return (
            f"round(list_sum(list_transform(list_zip({slice_expr}, {lit}), "
            "x -> (x[1] - x[2]) * (x[1] - x[2]))), 6)"
        )

    cents_lit = (
        "[" + ", ".join("[" + ", ".join(repr(x) for x in c) + "]" for c in centroids) + "]"
    )
    enc_cols = []
    for s, book in enumerate(codebooks):
        sl = f"r[{s * sub + 1}:{(s + 1) * sub}]"
        dlist = ", ".join(sdist(sl, c) for c in book)
        enc_cols.append(f"[{dlist}] as dl{s}")
        enc_cols.append(f"list_position(dl{s}, list_min(dl{s})) - 1 as code{s}")
    enc_sql = ",\n    ".join(enc_cols)
    approx = " + ".join(f"b.dl{s}[a.code{s} + 1]" for s in range(m))
    return f"""
with darr as (
  select vec_id, embedding,
    [{", ".join(cdist(c) for c in centroids)}] as cdl
  from embeddings
),
assign as (
  select vec_id, embedding,
    list_position(cdl, list_min(cdl)) - 1 as cluster
  from darr
),
res as (
  select vec_id, cluster,
    list_transform(list_zip(embedding, ({cents_lit})[cluster + 1]),
                   x -> x[1]::DOUBLE - x[2]) as r
  from assign
),
enc as (
  select vec_id, cluster,
    {enc_sql}
  from res
),
scored as (
  select b.vec_id as query_id, a.vec_id as neighbor_id,
    round({approx}, 6) as approx_d2
  from enc a
  join enc b on b.vec_id < 5 and a.vec_id != b.vec_id
            and a.cluster = b.cluster
)
select query_id, neighbor_id, approx_d2, rank from (
  select *, row_number() over (partition by query_id
                               order by approx_d2 asc, neighbor_id asc) as rank
  from scored
) where rank <= {k}
"""


def _q61_oracle_sql() -> str:
    """q61 oracle with the q26/q56 degradation contract."""
    try:
        sf = os.environ.get("SPARK_GRAFT_CONTRACT_SF", "/root/testdata/sf0.01")
        return _ivfpq_residual_sql(
            _ivf_centroids(sf), _pq_codebooks_residual(sf)
        )
    except Exception:
        return (
            "select * from read_parquet("
            "'/nonexistent/q61_residual_training_failed')"
        )


@contract(_q61_oracle_sql)
def q61_ivfpq_residual_topk(spark, sf_dir):
    """Residual-encoding IVF-PQ (Jégou 2011 §III — the FAISS IVFPQ
    default, and the r5 verdict's #2): codes quantize x − centroid
    [coarse] instead of x, so at the same (m, n_codes) budget the
    codewords model within-cluster displacement only (measured
    recall@10 0.66 vs 0.42 on clustered data — pinned in pytest).
    Corpus side reads residual codes AT REST
    (``_ensure_pq_codes(residual=True)``); the query side builds one LUT per
    probed cluster from ITS residual against that centroid."""
    from ai_pdf_extraction_spark.operators.similarity import ivfpq_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    codes = spark.read.parquet(_ensure_pq_codes(spark, sf_dir, residual=True))
    return ivfpq_topk(
        None,
        queries,
        _ivf_centroids(sf_dir),
        _pq_codebooks_residual(sf_dir),
        k=5,
        nprobe=1,
        codes=codes,
        residual=True,
    )


def _ivf_sql(centroids: list, k: int = 5) -> str:
    """q26 oracle: the SAME trained centroid literals as the Spark
    plan, assignment = first-index argmin of rounded squared-L2
    (list_position mirrors array_position's first-match rule), then
    in-cluster cosine top-k."""
    dlist = _d2_dlist_sql(centroids)
    return f"""
with darr as (
  select vec_id, embedding, [{dlist}] as dl from embeddings
),
assign as (
  select vec_id, embedding, list_position(dl, list_min(dl)) - 1 as cluster
  from darr
),
scored as (
  select b.vec_id as query_id, a.vec_id as neighbor_id,
    {_COS_EXPR.format(r=6)} as cos
  from assign a
  join assign b on b.vec_id < 5 and a.vec_id != b.vec_id
                and a.cluster = b.cluster
)
select query_id, neighbor_id, cos, rank from (
  select *, row_number() over (partition by query_id
                               order by cos desc, neighbor_id asc) as rank
  from scored
) where rank <= {k}
"""


def _q26_oracle_sql() -> str:
    """q26 oracle, degrading per-query like the other golden-backed
    oracles: if centroid training fails (missing embeddings.parquet,
    bad env dir), only q26 errors loudly at execution — the rest of
    the oracle dict stays usable."""
    try:
        return _ivf_sql(
            _ivf_centroids(
                os.environ.get("SPARK_GRAFT_CONTRACT_SF", "/root/testdata/sf0.01")
            )
        )
    except Exception:
        return (
            "select * from read_parquet("
            "'/nonexistent/q26_ivf_centroid_training_failed')"
        )


@contract(_q26_oracle_sql)
def q26_ivf_topk(spark, sf_dir):
    """IVF ANN with a REAL trained coarse quantizer: deterministic
    k-means centroids (offline, on a bounded pyarrow sample) embedded
    as plan-time literals; assignment is a pure Column argmin on both
    the corpus and query sides — no precomputed cluster column."""
    from ai_pdf_extraction_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    # fan out the CORPUS side only: the per-row centroid-distance
    # argmin is an interpreted HOF fold (k·d ops/row) that otherwise
    # runs on the single-row-group scan's one real task
    return ivf_topk(
        ensure_parallel(emb, "vec_id"), queries, k=5,
        centroids=_ivf_centroids(sf_dir),
    )


# ---------------------------------------------------------------------------
# events (time-windowed rollups)
# ---------------------------------------------------------------------------


@contract(lambda: """
select date_trunc('hour', ts) as hour, event_type,
  count(*) as n_events, round(sum(value), 2) as sum_value
from events group by 1, 2
""")
def q27_hourly_event_counts(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            F.col("event_type"),
        )
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


@contract(lambda: """
select event_type, count(*) as n_events,
  count(distinct user_id) as n_users,
  round(avg(value), 4) as avg_value,
  round(min(value), 4) as min_value,
  round(max(value), 4) as max_value
from events group by event_type
""")
def q28_event_type_stats(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        # exact distinct for oracle parity; at 100 TB scale swap in
        # approx_count_distinct (HLL) — same plan shape, no exactness
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.avg("value"), 4).alias("avg_value"),
        F.round(F.min("value"), 4).alias("min_value"),
        F.round(F.max("value"), 4).alias("max_value"),
    )


@contract(lambda: """
with chunks as (
  select source, doc_id, text, (n_chars % 100) / 100.0 as conf
  from documents
)
select source,
  substr(string_agg(text, ' ' order by doc_id), 1, 80) as merged_text_prefix,
  substr(arg_min(text, doc_id), 1, 20) as first_text_prefix,
  round(avg(conf), 3) as mean_conf,
  round(least(1.0, exp(avg(greatest(ln(greatest(conf, 1e-12)), -10.0)))), 3)
    as geo_conf,
  count(*) as n_chunks
from chunks group by source
""")
def q29_chunk_merge(spark, sf_dir):
    """The reference's per-document chunk-merge semantics
    (``services/ai/extraction.py:337-434``, SURVEY.md §2.4 A1/A2/A5/A6)
    applied per source group: order-sensitive array concatenation
    (A5 — flatten in chunk order), scalar coalesce-first-non-null (A6),
    mean-confidence with round 3 (A1/A4), and geometric-mean-of-logs
    confidence with the −10 clamp (A2)."""
    d = _t(spark, sf_dir, "documents")
    conf = (F.col("n_chars") % 100) / 100.0  # deterministic stand-in score
    chunks = d.select(
        "source",
        F.struct(F.col("doc_id"), F.col("text"), conf.alias("conf")).alias("chunk"),
    )
    merged = chunks.groupBy("source").agg(
        F.array_sort(F.collect_list("chunk")).alias("ordered")
    )
    logs = F.transform(
        F.col("ordered"),
        lambda x: F.greatest(F.log(F.greatest(x["conf"], F.lit(1e-12))), F.lit(-10.0)),
    )
    return merged.select(
        "source",
        F.substring(
            F.concat_ws(" ", F.transform(F.col("ordered"), lambda x: x["text"])), 1, 80
        ).alias("merged_text_prefix"),
        F.col("ordered")[0]["text"].substr(1, 20).alias("first_text_prefix"),
        F.round(
            F.aggregate(
                F.col("ordered"), F.lit(0.0), lambda acc, x: acc + x["conf"]
            )
            / F.size("ordered"),
            3,
        ).alias("mean_conf"),
        F.round(
            F.least(
                F.lit(1.0),
                F.exp(
                    F.aggregate(logs, F.lit(0.0), lambda acc, x: acc + x)
                    / F.size("ordered")
                ),
            ),
            3,
        ).alias("geo_conf"),
        F.size("ordered").alias("n_chunks"),
    )


@contract(lambda: r"""
select doc_id,
  case when length(trim(text)) = 0 then 0
       else len(regexp_split_to_array(trim(text), '\s+')) end as n_tokens_ws,
  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+'))
    as n_tokens_bpe
from documents
""")
def q30_token_counts_bpe(spark, sf_dir):
    """Whitespace + BPE-ish regex token counting side by side."""
    from ai_pdf_extraction_spark.operators.text_analysis import (
        token_count,
        token_count_bpe,
    )

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count("text").alias("n_tokens_ws"),
        token_count_bpe("text").alias("n_tokens_bpe"),
    )


@contract(lambda: """
with g as (
  select doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') as norm
  from documents
), h as (
  select doc_id,
    case when length(norm) < 8 then []
         else [md5(substr(norm, i, 8))
               for i in range(1, greatest(length(norm) - 7, 1) + 1)]
    end as hashes
  from g
), w as (
  select doc_id,
    case when len(hashes) = 0 then []
         else list_sort(list_distinct(
                [list_min(hashes[i:i+3])
                 for i in range(1, greatest(len(hashes) - 3, 1) + 1)]))
    end as fps
  from h
)
select doc_id, len(fps) as n_fp, md5(array_to_string(fps, '')) as sketch
from w
""")
def q31_winnowing_fingerprints(spark, sf_dir):
    """Rolling-hash winnowing fingerprint sketch per document."""
    _ensure_shipped(spark)
    from ai_pdf_extraction_spark.operators.text_analysis import (
        winnowing_fingerprints,
    )

    d = _t(spark, sf_dir, "documents")
    fps = winnowing_fingerprints("text", k=8, window=4)
    return d.select(
        "doc_id",
        F.size(fps).alias("n_fp"),
        F.md5(F.concat_ws("", fps)).alias("sketch"),
    )


@contract(lambda: """
with marked as (
  select user_id, ts, event_id,
    case when lag(ts) over (partition by user_id order by ts, event_id) is null
           or epoch(ts) - epoch(lag(ts) over (partition by user_id
                                              order by ts, event_id)) > 1800.0
         then 1 else 0 end as new_session
  from events
), sessions as (
  select user_id, ts,
    sum(new_session) over (partition by user_id order by ts, event_id
                           rows unbounded preceding)::bigint as session_id
  from marked
)
select user_id, session_id, count(*) as n_events,
  min(ts) as session_start,
  floor(epoch(max(ts)) - epoch(min(ts)))::bigint as session_len_sec
from sessions group by user_id, session_id
""")
def q32_user_sessions(spark, sf_dir):
    """Sessionization via lag/windowed running sum (30-min inactivity
    gap) — lead/lag + frame coverage beyond row_number."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # fractional-second arithmetic (timestamp → double seconds),
    # matching DuckDB epoch() exactly — unix_timestamp truncates and
    # diverges; TIMESTAMP_NTZ needs the intermediate timestamp cast
    sec = F.col("ts").cast("timestamp").cast("double")
    new_session = F.when(
        F.lag("ts").over(w).isNull() | ((sec - F.lag(sec).over(w)) > 1800.0), 1
    ).otherwise(0)
    sessions = e.withColumn(
        "session_id",
        F.sum(new_session).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.floor(F.max(sec) - F.min(sec)).cast("long").alias("session_len_sec"),
    )


@contract(lambda: """
select event_id,
  array_to_string(list_sort(json_keys(props)), ',') as prop_keys,
  try_cast(json_extract_string(props, '$.k') as bigint) as k_value,
  len(json_keys(props)) as n_props
from events
""")
def q33_json_props(spark, sf_dir):
    """JSON parse/serialize + map ops (SURVEY.md §2.7 F13, §2.6 U3):
    the reference's ``extracted_data`` dict payload round-trip
    (``models.py:182-185`` ↔ ``from_json``/``to_json``)."""
    e = _t(spark, sf_dir, "events")
    parsed = e.select(
        "event_id",
        F.from_json("props", "map<string,string>").alias("m"),
    )
    return parsed.select(
        "event_id",
        F.concat_ws(",", F.array_sort(F.map_keys("m"))).alias("prop_keys"),
        F.col("m")["k"].try_cast("long").alias("k_value"),
        F.size(F.map_keys("m")).alias("n_props"),
    )


def _q34_golden_path() -> str:
    """Golden parquet for the q34/q39/q51 oracles: the single-process
    oracle-kernel run over the fixture corpus (the analogue of the
    reference's stored ``extraction_results.json`` corpora). Pure
    pyarrow, no Spark, so ``oracle_sql()`` builds it."""
    from ai_pdf_extraction_spark.corpus.generate import generate_pages
    from ai_pdf_extraction_spark.oracle.run_reference import write_golden_parquet

    _, golden_path = _q34_fixture_paths()
    return _build_once(
        golden_path, lambda tmp: write_golden_parquet(tmp, generate_pages(600, seed=13))
    )


def _q34_fixture_paths() -> tuple[str, str]:
    from ai_pdf_extraction_spark.corpus.generate import CORPUS_VERSION
    from ai_pdf_extraction_spark.kernels import KERNEL_VERSION

    base = f"/tmp/spark_graft_contract_pages_v{CORPUS_VERSION}_600_13"
    # golden keyed on the KERNEL version too: a kernel-semantics change
    # must never be compared against a stale cached golden
    return base, base + f"_golden_k{KERNEL_VERSION}.parquet"


def _ensure_q34_fixtures() -> str:
    """The deterministic 600-page fixture corpus (4 parquet files) the
    q34/q39/q46 extraction queries read."""
    from ai_pdf_extraction_spark.corpus import write_pages_parquet

    pages_path, _ = _q34_fixture_paths()
    return _build_once(
        pages_path, lambda tmp: write_pages_parquet(tmp, 600, seed=13, n_files=4)
    )


def _q46_golden_path() -> str:
    """Exploded structured-table-rows golden (q46): one row per
    (url, t_idx, r_idx, key). Same corpus/kernel cache keying as q34."""
    from ai_pdf_extraction_spark.corpus.generate import generate_pages
    from ai_pdf_extraction_spark.kernels import KERNEL_VERSION
    from ai_pdf_extraction_spark.oracle.run_reference import write_table_rows_golden

    base, _ = _q34_fixture_paths()
    return _build_once(
        base + f"_tables_k{KERNEL_VERSION}.parquet",
        lambda tmp: write_table_rows_golden(tmp, generate_pages(600, seed=13)),
    )


def _sig_escape_col(c):
    """Column twin of ``kernels.types.sig_escape`` — delimiter escaping
    for the canonical table serialization (same ordered replace chain,
    rebuilt from the kernel's own SIG_ESCAPES so they cannot drift)."""
    from ai_pdf_extraction_spark.kernels.types import SIG_ESCAPES

    for ch, rep in SIG_ESCAPES:
        c = F.replace(c, F.lit(ch), F.lit(rep))
    return c


def _signature_cols(df: DataFrame) -> DataFrame:
    """Byte-level signatures of the extraction payload so the driver's
    value hash covers the full result, not just counts: md5 of the
    extracted text, plus canonical serializations of spans/warnings
    computable identically in DuckDB."""
    return df.select(
        "url",
        "content_type",
        "parse_ok",
        "confidence",
        "n_chars",
        "n_spans",
        F.md5("extracted_text").alias("text_md5"),
        F.concat_ws(
            ";",
            F.transform(
                "spans",
                lambda s: F.concat_ws(
                    ":", s["start"].cast("string"), s["end"].cast("string"), s["kind"]
                ),
            ),
        ).alias("spans_sig"),
        F.concat_ws("|", "warnings").alias("warnings_sig"),
        F.concat_ws(
            ";",
            F.transform(
                F.array_sort(F.map_entries("field_confidences")),
                lambda e: F.concat(
                    e["key"],
                    F.lit(":"),
                    F.round(e["value"] * F.lit(1000), 0).cast("int").cast("string"),
                ),
            ),
        ).alias("fc_sig"),
        F.col("n_pages"),
        F.size("tables").alias("n_tables"),
        # canonical table serialization — the Column twin of
        # kernels.types.tables_signature (entries k=v sorted by key,
        # ',' entries / ';' rows / '|' tables)
        F.concat_ws(
            "|",
            F.transform(
                "tables",
                lambda t: F.concat_ws(
                    ";",
                    F.transform(
                        t,
                        lambda r: F.concat_ws(
                            ",",
                            F.transform(
                                F.array_sort(F.map_entries(r)),
                                lambda e: F.concat(
                                    _sig_escape_col(e["key"]),
                                    F.lit("="),
                                    _sig_escape_col(e["value"]),
                                ),
                            ),
                        ),
                    ),
                ),
            ),
        ).alias("tables_sig"),
    )


@contract(lambda: f"""
select url, content_type, parse_ok, confidence, n_chars, n_spans,
  md5(extracted_text) as text_md5,
  coalesce(array_to_string(list_transform(spans,
    s -> s['start']::varchar || ':' || s['end']::varchar || ':' || s['kind']),
    ';'), '') as spans_sig,
  coalesce(array_to_string(warnings, '|'), '') as warnings_sig,
  fc_sig, n_pages, n_tables, tables_sig
from read_parquet('{_q34_golden_path()}')
""")
def q34_extract_pages(spark, sf_dir):
    """The extraction hot path itself (kernel pandas UDF end-to-end)
    over a deterministic synthetic corpus, checked against the golden
    parquet written by the single-process oracle kernels — the driver
    hash covers the extracted text bytes (md5), span offsets/kinds and
    warnings, i.e. the BASELINE north_rule's byte-identical invariant."""
    _ensure_shipped(spark)
    from ai_pdf_extraction_spark.plans.pipeline import extraction_plan

    pages_path = _ensure_q34_fixtures()
    plan = extraction_plan(spark.read.parquet(pages_path), run_id="contract")
    return _signature_cols(plan)


def _ensure_warc_fixtures() -> str:
    """Deterministic WARC twin of the q34 page corpus: the same 600
    ``generate_pages`` rows written as 8 ``.warc.gz`` shards (one gzip
    member per record — the Common Crawl layout). The html payloads
    ride the WARC/HTTP envelope byte-identically, so extraction over
    ``read_warc`` must hash-match the q34 golden exactly."""
    from ai_pdf_extraction_spark.corpus.generate import (
        CORPUS_VERSION,
        generate_pages,
    )
    from ai_pdf_extraction_spark.sources.warc import (
        WARC_FORMAT_VERSION,
        write_warc,
    )

    def write(tmp: str) -> None:
        os.makedirs(tmp)
        rows = generate_pages(600, seed=13)
        n_shards = 8
        for s in range(n_shards):
            write_warc(
                os.path.join(tmp, f"part-{s:02d}.warc.gz"),
                rows[s::n_shards],
                compress=True,
            )

    return _build_once(
        f"/tmp/spark_graft_contract_warc_v{CORPUS_VERSION}"
        f"w{WARC_FORMAT_VERSION}_600_13",
        write,
    )


@contract(lambda: f"""
select url, content_type, parse_ok, confidence, n_chars, n_spans,
  md5(extracted_text) as text_md5,
  coalesce(array_to_string(list_transform(spans,
    s -> s['start']::varchar || ':' || s['end']::varchar || ':' || s['kind']),
    ';'), '') as spans_sig,
  coalesce(array_to_string(warnings, '|'), '') as warnings_sig,
  fc_sig, n_pages, n_tables, tables_sig
from read_parquet('{_q34_golden_path()}')
""")
def q51_warc_extract(spark, sf_dir):
    """WARC ingestion end-to-end (the crawl-native source, round-3
    verdict item 2a): the q34 corpus round-tripped through spec-shaped
    ``.warc.gz`` shards → ``read_warc`` (streamed, path-per-task) →
    the extraction pipeline → the same signature columns, value-hashed
    against the SAME single-process golden as q34 — proving the WARC
    envelope/parse is byte-transparent to extraction."""
    _ensure_shipped(spark)
    from ai_pdf_extraction_spark.plans.pipeline import extraction_plan
    from ai_pdf_extraction_spark.sources.warc import read_warc

    pages = read_warc(spark, _ensure_warc_fixtures())
    plan = extraction_plan(pages, run_id="contract-warc")
    return _signature_cols(plan)


# Deterministic multilingual snippets for q52 — the same Python
# constants feed the Spark literals AND the oracle SQL, so the two
# engines see byte-identical inputs. Expected language first.
_LANG_SAMPLES: tuple[tuple[str, str], ...] = (
    ("ja", "これは日本語のテキストです。言語判定のための例文。"),
    ("zh", "这是一个中文测试文本，用于语言识别。"),
    ("ko", "이것은 한국어 텍스트입니다. 언어 감지 예제."),
    ("ru", "Это русский текст для проверки определения языка."),
    ("ar", "هذا نص عربي لاختبار تحديد اللغة."),
    ("he", "זהו טקסט בעברית לבדיקת זיהוי שפה."),
    ("el", "Αυτό είναι ελληνικό κείμενο για τον εντοπισμό γλώσσας."),
    ("hi", "यह भाषा पहचान के लिए हिंदी पाठ है।"),
    ("th", "นี่คือข้อความภาษาไทยสำหรับการทดสอบ"),
    ("it", "questo è il testo che serve di prova della lingua"),
    ("pt", "este texto não é uma amostra dos testes que são simples"),
    ("nl", "dit is het voorbeeld een tekst van niet te moeilijk"),
    ("sv", "detta är och att det som ett prov på svenska"),
)


def _q52_oracle_sql() -> str:
    """DuckDB twin of q52, REBUILT from the operator's own constants
    (markers, script ranges, share threshold, snippet list) so the two
    sides cannot silently desync."""
    score_cols, decide_case = _lang_detect_sql_parts("sample_text")
    snippet_case = "case (doc_id % " + str(len(_LANG_SAMPLES) + 1) + ")\n"
    for idx, (_lang, snippet) in enumerate(_LANG_SAMPLES):
        snippet_case += f"      when {idx} then '{snippet}'\n"
    snippet_case += "      else text end"
    return f"""
with base as (
  select doc_id, {snippet_case} as sample_text
  from documents
),
scored as (
  select doc_id, sample_text,
    {score_cols}
  from (select doc_id, sample_text,
               ' ' || lower(sample_text) || ' ' as padded from base)
)
select doc_id,
  {decide_case} as lang_detected
from scored
"""


@contract(_q52_oracle_sql)
def q52_lang_detect_wide(spark, sf_dir):
    """Wide language ID (script charsets + 8 Latin marker sets, round-3
    verdict item 4): every 14th doc keeps its real text, the rest cycle
    through 13 deterministic non-English snippets — so the contract
    hash covers every script branch, every marker branch, AND the
    charset/marker interplay on real corpus text."""
    from ai_pdf_extraction_spark.operators.text_analysis import lang_detect

    d = ensure_parallel(_t(spark, sf_dir, "documents"), "doc_id")
    m = F.col("doc_id") % (len(_LANG_SAMPLES) + 1)
    sample = F.col("text")
    for idx, (_lang, snippet) in enumerate(_LANG_SAMPLES):
        sample = F.when(m == idx, F.lit(snippet)).otherwise(sample)
    return d.select("doc_id", sample.alias("sample_text")).select(
        "doc_id", lang_detect(F.col("sample_text")).alias("lang_detected")
    )


def _lang_detect_sql_parts(text_col: str) -> tuple[str, str]:
    """(score_cols, decide_case) — the wide-detector SQL rebuilt from
    the operator's own constants, parameterized on the scored text
    column. ``score_cols`` references a ``padded`` column (caller
    builds ``' ' || lower({text_col}) || ' '``); ``decide_case``
    references the ``s_*`` columns and ``{text_col}`` itself (script
    ranges). Shared by the q52 and q97 oracles."""
    from ai_pdf_extraction_spark.operators.text_analysis import (
        EXTRA_MARKERS,
        LANG_MARKERS,
        SCRIPT_RANGES,
        SCRIPT_SHARE_DENOM,
    )

    markers = {**LANG_MARKERS, **EXTRA_MARKERS}
    score = (
        lambda m: f"cast((length(padded) - length(replace(padded, '{m}', '')))"
        f" / {len(m)} as bigint)"
    )
    score_cols = ",\n    ".join(
        f"{' + '.join(score(m) for m in ms)} as s_{lang}"
        for lang, ms in markers.items()
    )
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in markers) + ")"
    marker_case = f"case when {best} = 0 then 'und'\n"
    for lang in markers:
        marker_case += f"       when s_{lang} = {best} then '{lang}'\n"
    marker_case += "       else 'und' end"
    script_whens = "\n".join(
        f"    when (length({text_col}) - length(regexp_replace({text_col},"
        f" '{rng}', '', 'g'))) * {SCRIPT_SHARE_DENOM}"
        f" >= greatest(length({text_col}), 1) then '{lang}'"
        for lang, rng in SCRIPT_RANGES.items()
    )
    decide_case = f"case\n{script_whens}\n    else {marker_case}\n  end"
    return score_cols, decide_case


# Trigram-hard snippets for q59: NO whole-word stopword markers (the
# q52 model scores these 'und' or by accident); the char-trigram
# profiles must carry the decision. Expected language first — pinned
# independently in tests/test_operators.py.
_TRIGRAM_SAMPLES: tuple[tuple[str, str], ...] = (
    ("en", "understanding engineering achievements nationwide"),
    ("de", "wissenschaftliche einrichtungen entwickelten untersuchungen"),
    ("fr", "gouvernement questionnaire merveilleusement chaleureux"),
    ("es", "estación declaración estudiantes importantes"),
    ("it", "organizzazione nazionale meravigliosa famiglia"),
    ("pt", "coração organização carinho pequeninho"),
    ("nl", "waarschijnlijk vrijheid medewerkers voorbeelden"),
    ("sv", "försäkringsbolag åtgärder möjligheter"),
)


def _q59_oracle_sql() -> str:
    """DuckDB twin of q59, rebuilt from the operator's own constants
    (markers, trigrams, MARKER_WEIGHT, script ranges, snippet lists) —
    the q52 oracle-construction contract."""
    from ai_pdf_extraction_spark.operators.text_analysis import (
        EXTRA_MARKERS,
        LANG_MARKERS,
        LANG_TRIGRAMS,
        MARKER_WEIGHT,
        SCRIPT_RANGES,
        SCRIPT_SHARE_DENOM,
    )

    markers = {**LANG_MARKERS, **EXTRA_MARKERS}
    score = (
        lambda m: f"cast((length(padded) - length(replace(padded, '{m}', '')))"
        f" / {len(m)} as bigint)"
    )
    score_cols = ",\n    ".join(
        f"{MARKER_WEIGHT} * ({' + '.join(score(m) for m in markers[lang])})"
        f" + ({' + '.join(score(t) for t in LANG_TRIGRAMS[lang])}) as s_{lang}"
        for lang in LANG_TRIGRAMS
    )
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in LANG_TRIGRAMS) + ")"
    marker_case = f"case when {best} = 0 then 'und'\n"
    for lang in LANG_TRIGRAMS:
        marker_case += f"       when s_{lang} = {best} then '{lang}'\n"
    marker_case += "       else 'und' end"
    script_whens = "\n".join(
        f"    when (length(sample_text) - length(regexp_replace(sample_text,"
        f" '{rng}', '', 'g'))) * {SCRIPT_SHARE_DENOM}"
        f" >= greatest(length(sample_text), 1) then '{lang}'"
        for lang, rng in SCRIPT_RANGES.items()
    )
    samples = _LANG_SAMPLES + _TRIGRAM_SAMPLES
    snippet_case = "case (doc_id % " + str(len(samples) + 1) + ")\n"
    for idx, (_lang, snippet) in enumerate(samples):
        snippet_case += f"      when {idx} then '{snippet}'\n"
    snippet_case += "      else text end"
    return f"""
with base as (
  select doc_id, {snippet_case} as sample_text
  from documents
),
scored as (
  select doc_id, sample_text,
    {score_cols}
  from (select doc_id, sample_text,
               ' ' || lower(sample_text) || ' ' as padded from base)
)
select doc_id,
  case
{script_whens}
    else {marker_case}
  end as lang_detected
from scored
"""


@contract(_q59_oracle_sql)
def q59_lang_trigram(spark, sf_dir):
    """Char-trigram language ID (Cavnar–Trenkle evidence, round-4
    verdict item 7): every 22nd doc keeps its real text, the rest cycle
    through the 13 q52 snippets AND 8 trigram-hard snippets (no
    whole-word markers — sub-word trigrams must decide), so the
    contract hash covers the script branches, the marker+trigram
    interplay, and the trigram-only path."""
    from ai_pdf_extraction_spark.operators.text_analysis import (
        lang_detect_trigram,
    )

    d = ensure_parallel(_t(spark, sf_dir, "documents"), "doc_id")
    samples = _LANG_SAMPLES + _TRIGRAM_SAMPLES
    m = F.col("doc_id") % (len(samples) + 1)
    sample = F.col("text")
    for idx, (_lang, snippet) in enumerate(samples):
        sample = F.when(m == idx, F.lit(snippet)).otherwise(sample)
    return d.select("doc_id", sample.alias("sample_text")).select(
        "doc_id", lang_detect_trigram(F.col("sample_text")).alias("lang_detected")
    )


# Edge-case snippets for q60 — each crafted to trip exactly one Gopher
# rule (or pass them all); doc_id % 7 ∈ {0..4} injects, 5-6 keep real
# corpus text.
_GOPHER_SAMPLES: tuple[str, ...] = (
    "the data to be of and that have with " * 20,  # passes every rule
    "• one\n• two\n- three\n* four",  # bullet-led lines
    "first line...\nsecond part...\nthird bit...",  # ellipsis-ended
    "# # # # # # tag soup with hashes",  # symbol ratio
    "12345 67890 00000 11111 22222",  # no alphabetic words
)


def _q60_oracle_sql() -> str:
    """DuckDB twin of q60, rebuilt from the operator's own thresholds
    and stop-word list (the q52/q59 oracle-construction contract)."""
    from ai_pdf_extraction_spark.operators.text_analysis import (
        GOPHER_MAX_BULLET_FRAC,
        GOPHER_MAX_ELLIPSIS_FRAC,
        GOPHER_MAX_MEAN_WORD_LEN,
        GOPHER_MAX_SYMBOL_RATIO,
        GOPHER_MAX_WORDS,
        GOPHER_MIN_ALPHA_FRAC,
        GOPHER_MIN_MEAN_WORD_LEN,
        GOPHER_MIN_STOP_HITS,
        GOPHER_MIN_WORDS,
        GOPHER_STOP_WORDS,
    )

    snippet_case = "case (doc_id % 7)\n"
    for idx, snippet in enumerate(_GOPHER_SAMPLES):
        snippet_case += f"      when {idx} then '{snippet}'\n"
    snippet_case += "      else text end"
    stop_sum = " + ".join(
        f"cast(position(' {w} ' in padded) > 0 as bigint)"
        for w in GOPHER_STOP_WORDS
    )
    return f"""
with base as (
  select doc_id, {snippet_case} as t from documents
),
proj as (
  select doc_id, t,
    regexp_split_to_array(trim(t), '\\s+') as words,
    string_split(t, chr(10)) as lines,
    ' ' || lower(t) || ' ' as padded
  from base
),
sig as (
  select doc_id,
    cast(case when length(trim(t)) = 0 then 0 else len(words) end as bigint)
      as n_words,
    round(length(regexp_replace(t, '\\s', '', 'g'))
          / greatest(case when length(trim(t)) = 0 then 0 else len(words) end, 1), 4)
      as mean_word_len,
    round((length(t) - length(replace(t, '#', ''))
           + cast((length(t) - length(replace(t, '...', ''))) / 3 as bigint))
          / greatest(case when length(trim(t)) = 0 then 0 else len(words) end, 1), 4)
      as symbol_ratio,
    round(len(list_filter(lines, l -> regexp_matches(ltrim(l), '^[•*-]')))
          / greatest(len(lines), 1), 4) as bullet_frac,
    round(len(list_filter(lines, l -> ends_with(rtrim(l), '...')))
          / greatest(len(lines), 1), 4) as ellipsis_frac,
    round(len(list_filter(words, w -> regexp_matches(w, '[a-zA-Z]')))
          / greatest(case when length(trim(t)) = 0 then 0 else len(words) end, 1), 4)
      as alpha_frac,
    cast({stop_sum} as bigint) as stop_hits
  from proj
)
select doc_id, n_words, mean_word_len, symbol_ratio, bullet_frac,
  ellipsis_frac, alpha_frac, stop_hits,
  (n_words >= {GOPHER_MIN_WORDS} and n_words <= {GOPHER_MAX_WORDS}
   and mean_word_len >= {GOPHER_MIN_MEAN_WORD_LEN}
   and mean_word_len <= {GOPHER_MAX_MEAN_WORD_LEN}
   and symbol_ratio <= {GOPHER_MAX_SYMBOL_RATIO}
   and bullet_frac < {GOPHER_MAX_BULLET_FRAC}
   and ellipsis_frac < {GOPHER_MAX_ELLIPSIS_FRAC}
   and alpha_frac >= {GOPHER_MIN_ALPHA_FRAC}
   and stop_hits >= {GOPHER_MIN_STOP_HITS}) as gopher_pass
from sig
"""


@contract(_q60_oracle_sql)
def q60_gopher_quality(spark, sf_dir):
    """Gopher/MassiveText quality rules (Rae et al. 2021 A1.1): the
    full public filter set over the documents table, with crafted
    snippets cycled in so every rule's fail branch AND the all-pass
    branch land in the contract hash."""
    from ai_pdf_extraction_spark.operators.text_analysis import gopher_quality

    d = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 7
    sample = F.col("text")
    for idx, snippet in enumerate(_GOPHER_SAMPLES):
        sample = F.when(m == idx, F.lit(snippet)).otherwise(sample)
    return gopher_quality(
        d.select("doc_id", sample.alias("text"))
    )


@contract(lambda: f"""
select url, conf_title, conf_paragraph, conf_list_item, conf_table_text
from read_parquet('{_q34_golden_path()}')
""")
def q39_field_confidences(spark, sf_dir):
    """Per-field confidences (reference ``field_confidences`` dict,
    ``models.py:186-199``) surfaced as one column per span kind via map
    element_at — checked against the oracle-kernel golden parquet."""
    _ensure_shipped(spark)
    from ai_pdf_extraction_spark.oracle.run_reference import FIELD_KINDS
    from ai_pdf_extraction_spark.plans.pipeline import extraction_plan

    pages_path = _ensure_q34_fixtures()
    plan = extraction_plan(spark.read.parquet(pages_path), run_id="contract")
    return plan.select(
        "url",
        *[
            F.try_element_at(F.col("field_confidences"), F.lit(k)).alias(f"conf_{k}")
            for k in FIELD_KINDS
        ],
    )


def _exploded_table_rows(spark) -> DataFrame:
    """Fixture-corpus extraction → structured tables exploded to one
    row per (url, t_idx, r_idx, key, value) — shared by q46/q48."""
    from ai_pdf_extraction_spark.plans.pipeline import extraction_plan

    pages_path = _ensure_q34_fixtures()
    plan = extraction_plan(spark.read.parquet(pages_path), run_id="contract")
    return (
        plan.select("url", F.posexplode("tables").alias("t_idx", "tbl"))
        .select("url", "t_idx", F.posexplode("tbl").alias("r_idx", "rec"))
        .select(
            "url",
            F.col("t_idx").cast("int").alias("t_idx"),
            F.col("r_idx").cast("int").alias("r_idx"),
            F.explode("rec").alias("key", "value"),
        )
    )


@contract(lambda: f"""
select url, t_idx, r_idx, key, value
from read_parquet('{_q46_golden_path()}')
""")
def q46_table_rows(spark, sf_dir):
    """Structured table-row extraction — the reference's ``array``
    FieldType (array-of-objects rows, e.g. SEC 8-K
    ``securities_registered``; ``validation.py:467-488``) — exploded to
    one row per (url, table, row, key) and value-hashed against the
    single-process oracle kernel's exploded golden parquet. The
    nested payload itself rides the output table as
    ``tables array<array<map<string,string>>>``."""
    _ensure_shipped(spark)
    return _exploded_table_rows(spark)


def _pii_scrub_sql() -> str:
    """q41 oracle, built by placeholder substitution (the regexes carry
    ``{m,n}`` quantifiers that fight f-strings). DuckDB regexp_replace
    needs the explicit 'g' flag Spark applies implicitly; counts use
    len(regexp_extract_all) — DuckDB has no regexp_count."""
    from ai_pdf_extraction_spark.operators.scrub import EMAIL_RE, IP_RE, PHONE_RE

    sql = """
with seeded as (
  select doc_id,
    text || ' contact: user' || doc_id || '@example.com or +1 555-01'
         || lpad((doc_id % 100)::varchar, 2, '0')
         || ' from 10.0.' || (doc_id % 256)::varchar || '.7' as text
  from documents
), e_scrubbed as (
  select doc_id,
    regexp_replace(text, '@EMAIL@', '<EMAIL>', 'g') as e_text,
    len(regexp_extract_all(text, '@EMAIL@')) as n_emails
  from seeded
), partial as (
  -- each class counted with all EARLIER scrub steps applied (disjoint
  -- classes) — mirrors operators/scrub.pii_counts' fold over the steps
  select doc_id, n_emails,
    regexp_replace(e_text, '@IP@', '<IP>', 'g') as ei_scrubbed,
    len(regexp_extract_all(e_text, '@IP@')) as n_ips
  from e_scrubbed
)
select doc_id,
  md5(regexp_replace(ei_scrubbed, '@PHONE@', '<PHONE>', 'g')) as scrubbed_md5,
  n_emails, n_ips,
  len(regexp_extract_all(ei_scrubbed, '@PHONE@')) as n_phones
from partial
"""
    return (
        sql.replace("@EMAIL@", EMAIL_RE)
        .replace("@IP@", IP_RE)
        .replace("@PHONE@", PHONE_RE)
    )


@contract(_pii_scrub_sql)
def q41_pii_scrub(spark, sf_dir):
    """PII redaction (emails → <EMAIL>, IPs → <IP>, phone runs →
    <PHONE>) — C4/Dolma-style training-data scrubbing. PII-bearing text
    is synthesized deterministically from doc_id (the q37 pattern) so
    both engines scrub identical inputs; the hash covers the scrubbed
    text md5 + disjoint per-class match counts."""
    from ai_pdf_extraction_spark.operators.scrub import pii_counts, scrub_pii

    d = _t(spark, sf_dir, "documents")
    seeded = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact: user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1 555-01"),
            F.lpad(F.pmod(F.col("doc_id"), 100).cast("string"), 2, "0"),
            F.lit(" from 10.0."),
            F.pmod(F.col("doc_id"), 256).cast("string"),
            F.lit(".7"),
        ).alias("text"),
    )
    counts = pii_counts("text")
    return seeded.select(
        "doc_id",
        F.md5(scrub_pii("text")).alias("scrubbed_md5"),
        counts["n_emails"].alias("n_emails"),
        counts["n_ips"].alias("n_ips"),
        counts["n_phones"].alias("n_phones"),
    )


_REPETITION_SQL = r"""
with words as (
  select doc_id,
    case when length(trim(text)) = 0 then []::varchar[]
         else regexp_split_to_array(lower(trim(text)), '\s+') end as w
  from documents
), per_row as (
  select doc_id, len(w) as n_words, len(list_distinct(w)) as n_distinct from words
), bigrams as (
  select doc_id,
    unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) as bigram
  from words
), counts as (
  select doc_id, bigram, count(*) as cnt from bigrams group by 1, 2
), shares as (
  select doc_id, max(cnt) * 1.0 / sum(cnt) as share from counts group by 1
)
select p.doc_id,
  round(case when n_words > 1 then 1.0 - n_distinct * 1.0 / n_words
             else 0.0 end, 4) as dup_word_ratio,
  round(coalesce(share, 0.0), 4) as top_bigram_share
from per_row p left join shares using (doc_id)
"""


@contract(lambda: _REPETITION_SQL)
def q42_repetition_signals(spark, sf_dir):
    """Gopher-style repetition quality signals (dup-word ratio,
    top-bigram share) — explode → groupBy, not per-row HOF counting
    (Catalyst has no CSE across HOF lambdas; see operator docstring)."""
    from ai_pdf_extraction_spark.operators.text_analysis import repetition_signals

    return repetition_signals(_t(spark, sf_dir, "documents"))


_STRATIFIED_SAMPLE_SQL = """
select doc_id, lang from documents
where ('0x' || substr(md5(coalesce(lang, '__null__') || ':' || doc_id), 1, 4))::int
        / 65536.0
      < case when lang = 'de' then 1.0
             when lang = 'en' then 0.5
             else 0.1 end
"""


@contract(lambda: _STRATIFIED_SAMPLE_SQL)
def q43_stratified_sample(spark, sf_dir):
    """Deterministic hash-based stratified sampling for corpus mixing:
    md5-derived uniform per (lang, doc_id) under per-language rates —
    reproducible across engines, runs, and repartitions."""
    from ai_pdf_extraction_spark.operators.scrub import stratified_hash_sample

    d = _t(spark, sf_dir, "documents")
    return stratified_hash_sample(
        d, {"en": 0.5, "de": 1.0}, default_rate=0.1
    ).select("doc_id", "lang")


@contract(lambda: f"""
with {_SCORED_CTE},
c as (
  select doc_id, lang, quality, n_tokens,
    (sum(n_tokens) over (partition by lang order by quality desc, doc_id
                         rows unbounded preceding))::bigint as cum_tokens
  from scored
)
select doc_id, lang, quality, n_tokens, cum_tokens from c
where cum_tokens <= 3000
""")
def q44_token_budget(spark, sf_dir):
    """Token-budget corpus selection: fill a per-language token budget
    from the highest-quality docs first (windowed running sum)."""
    from ai_pdf_extraction_spark.operators.scrub import token_budget_selection
    from ai_pdf_extraction_spark.operators.text_analysis import (
        quality_score,
        token_count,
    )

    d = _t(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "lang",
        quality_score("text").alias("quality"),
        token_count("text").alias("n_tokens"),
    )
    return token_budget_selection(scored, budget_per_stratum=3000)


def _neardup_clusters_sql() -> str:
    """q45 oracle: LSH-verified pairs → symmetric edge list → recursive
    transitive closure (UNION dedups, so it terminates) → per-node min
    label = connected component id."""
    return f"""
with recursive {_minhash_cte()},
vpairs as (
  select cand.id_a, cand.id_b
  from cand join jacc on cand.id_a = jacc.id_a and cand.id_b = jacc.id_b
  where jacc.jaccard >= 0.8
),
edges as (
  select id_a as src, id_b as dst from vpairs
  union all
  select id_b as src, id_a as dst from vpairs
),
reach(node, lab) as (
  select doc_id, doc_id from documents
  union
  select e.dst, r.lab from edges e join reach r on r.node = e.src
),
lab as (select node, min(lab) as cluster_id from reach group by node),
sz as (select cluster_id, count(*) as cluster_size from lab group by cluster_id)
select node as doc_id, cluster_id, cluster_size,
       node = cluster_id as is_canonical
from lab join sz using (cluster_id)
"""


@contract(_neardup_clusters_sql)
def q45_neardup_clusters(spark, sf_dir):
    """Near-duplicate clustering: connected components (min-label
    propagation) over the LSH-verified Jaccard≥0.8 pair graph — the
    step after pair mining that an actual dedup pipeline runs. Every
    doc gets (cluster_id, cluster_size, is_canonical)."""
    from ai_pdf_extraction_spark.operators.dedup import neardup_clusters

    return neardup_clusters(_t(spark, sf_dir, "documents"), threshold=0.8)


@contract(lambda: """
select doc_id,
  md5(to_base64(encode(text))) as b64_md5,
  length(to_base64(encode(text))) as b64_len,
  from_base64(to_base64(encode(text))) = encode(text) as roundtrip_ok
from documents
""")
def q40_base64_payload(spark, sf_dir):
    """Base64 payload encode/decode round-trip (§2.7 F11 — the
    reference's image→base64 request payload, ``extraction.py:74-86``)
    over binary document bytes, cross-checked in both engines."""
    from ai_pdf_extraction_spark.operators.multimodal import (
        base64_payload,
        decode_base64_payload,
    )

    d = _t(spark, sf_dir, "documents")
    payload = d.select("doc_id", F.col("text").cast("binary").alias("media"))
    enc = payload.select(
        "doc_id", "media", base64_payload("media").alias("media_b64")
    )
    return enc.select(
        "doc_id",
        F.md5("media_b64").alias("b64_md5"),
        F.length("media_b64").alias("b64_len"),
        (decode_base64_payload("media_b64") == F.col("media")).alias("roundtrip_ok"),
    )


@contract(lambda: f"""
with {_minhash_cte()},
fp as (select doc_id, {_FINGERPRINT_EXPR} as fp from documents),
canon as (
  select doc_id from (
    select doc_id, min(doc_id) over (partition by fp) as canonical_id from fp
  ) where doc_id = canonical_id
),
near_losers as (
  select distinct cand.id_b as doc_id
  from cand join jacc on cand.id_a = jacc.id_a and cand.id_b = jacc.id_b
  where jacc.jaccard >= 0.8
),
{_SCORED_CTE}
select s.doc_id, s.lang, s.quality, s.n_tokens
from scored s
join canon using (doc_id)
where s.doc_id not in (select doc_id from near_losers)
  and s.quality >= 0.5
""")
def q36_curated_corpus(spark, sf_dir):
    """Capstone curation pass — what a training-data pipeline actually
    emits: documents that (a) clear the quality threshold, (b) are the
    canonical copy of their exact-dup group, and (c) are not the higher
    id of a near-duplicate pair (MinHash-LSH candidates verified at
    n-gram Jaccard ≥ 0.8). Thin wrapper over the importable plan
    (``plans.curate.curated_corpus``) so the capstone pass ships in the
    package, not just the contract file."""
    from ai_pdf_extraction_spark.plans.curate import curated_corpus

    return curated_corpus(_t(spark, sf_dir, "documents"))


@contract(lambda: """
with base as (
  select doc_id, doc_id % 10 as m,
    (doc_id % 900 + 100) as i,
    (doc_id % 900 + 100)::varchar as istr,
    lpad((doc_id % 100)::varchar, 2, '0') as cc,
    (doc_id % 100) / 100.0 as frac
  from documents
)
select doc_id,
  case m when 0 then '$' || istr || '.' || cc
         when 1 then '€' || istr || ',' || cc
         when 2 then '£' || istr
         when 3 then istr || ' USD'
         when 4 then 'US$ ' || istr
         when 5 then istr || ',' || cc || ' €'
         when 6 then '¥' || istr
         when 7 then 'R$ ' || istr || ',' || cc
         when 8 then istr || '.' || cc
         else '1.' || istr || ',' || cc || ' EUR' end as raw,
  case m when 0 then '$' when 1 then '€' when 2 then '£'
         when 3 then 'USD' when 4 then 'US$' when 5 then '€'
         when 6 then '¥' when 7 then 'R$' when 8 then null
         else 'EUR' end as token,
  case m when 0 then 'USD' when 1 then 'EUR' when 2 then 'GBP'
         when 3 then 'USD' when 4 then 'USD' when 5 then 'EUR'
         when 6 then 'JPY' when 7 then 'BRL' when 8 then null
         else 'EUR' end as code,
  round(case m when 0 then i + frac when 1 then i + frac
               when 2 then i + 0.0 when 3 then i + 0.0
               when 4 then i + 0.0 when 5 then i + frac
               when 6 then i + 0.0 when 7 then i + frac
               when 8 then i + frac
               else 1000 + i + frac end, 2) as amount
from base
""")
def q47_currency_codes(spark, sf_dir):
    """Currency symbol/ISO detection + numeric parse (§2.7 F1 — the
    price-parser ``currency`` half, ``validation.py:34-82``) over ten
    deterministic format families synthesized from doc_id. The oracle
    computes each family's expected amount ARITHMETICALLY (not by
    re-implementing the parser), so parse_currency is checked against
    independent ground truth per format."""
    from ai_pdf_extraction_spark.functions.normalize import (
        currency_code,
        detect_currency,
        parse_currency,
    )

    d = _t(spark, sf_dir, "documents")
    i = (F.pmod(F.col("doc_id"), 900) + 100).cast("int").cast("string")
    cc = F.lpad(F.pmod(F.col("doc_id"), 100).cast("string"), 2, "0")
    m = F.pmod(F.col("doc_id"), 10)
    raw = (
        F.when(m == 0, F.concat(F.lit("$"), i, F.lit("."), cc))
        .when(m == 1, F.concat(F.lit("€"), i, F.lit(","), cc))
        .when(m == 2, F.concat(F.lit("£"), i))
        .when(m == 3, F.concat(i, F.lit(" USD")))
        .when(m == 4, F.concat(F.lit("US$ "), i))
        .when(m == 5, F.concat(i, F.lit(","), cc, F.lit(" €")))
        .when(m == 6, F.concat(F.lit("¥"), i))
        .when(m == 7, F.concat(F.lit("R$ "), i, F.lit(","), cc))
        .when(m == 8, F.concat(i, F.lit("."), cc))
        .otherwise(F.concat(F.lit("1."), i, F.lit(","), cc, F.lit(" EUR")))
    )
    return d.select(
        "doc_id",
        raw.alias("raw"),
        detect_currency(raw).alias("token"),
        currency_code(raw).alias("code"),
        F.round(parse_currency(raw), 2).alias("amount"),
    )


@contract(lambda: f"""
select url, count(*) as n_rows,
  cast(sum(try_cast(regexp_replace(value, '[^0-9.]', '', 'g') as double))
       as bigint) as total_units
from read_parquet('{_q46_golden_path()}')
where key = 'amount'
group by url
""")
def q48_table_field_rollup(spark, sf_dir):
    """Typed consumption of the structured table payload — the
    reference's invoice line-items shape (array rows → typed values →
    per-document aggregate, ``validation.py:467-488`` +
    ``test_ai_service.py`` array cases): explode captured tables, parse
    the corpus's ``'NNN units'`` amount cells with parse_number, roll
    up count and sum per document. Oracle runs the same arithmetic on
    the exploded oracle-kernel golden."""
    _ensure_shipped(spark)
    from ai_pdf_extraction_spark.functions.normalize import parse_number

    rows = _exploded_table_rows(spark)
    amounts = rows.filter(F.col("key") == "amount").select(
        "url", parse_number(F.regexp_replace("value", r"[^0-9.]", "")).alias("amt")
    )
    return amounts.groupBy("url").agg(
        F.count("*").alias("n_rows"),
        F.sum("amt").cast("bigint").alias("total_units"),
    )


# single source of truth for the media fixture shape — the parquet,
# the probe golden, AND the q53 decode golden must all derive from it
_MEDIA_FIXTURE_N, _MEDIA_FIXTURE_SEED = 240, 21


def _media_fixture_base() -> str:
    from ai_pdf_extraction_spark.operators.multimodal import MEDIA_FIXTURE_VERSION

    return (
        f"/tmp/spark_graft_media_v{MEDIA_FIXTURE_VERSION}"
        f"_{_MEDIA_FIXTURE_N}_{_MEDIA_FIXTURE_SEED}"
    )


def _media_fixture_rows():
    from ai_pdf_extraction_spark.operators.multimodal import generate_media_rows

    return generate_media_rows(_MEDIA_FIXTURE_N, seed=_MEDIA_FIXTURE_SEED)


def _media_fixture_paths() -> tuple[str, str]:
    from ai_pdf_extraction_spark.operators.multimodal import MEDIA_PROBE_VERSION

    base = _media_fixture_base()
    # golden keyed on probe semantics too (the q34 _golden_k pattern)
    return base + ".parquet", base + f"_golden_p{MEDIA_PROBE_VERSION}.parquet"


def _ensure_media_fixtures() -> tuple[str, str]:
    """Deterministic media corpus (wav/bmp/png/jpeg/junk bytes built
    with struct/wave — no codec libs) + its probe golden, both pure
    pyarrow so ``oracle_sql()`` can build them (the q34 pattern)."""
    from ai_pdf_extraction_spark.operators.multimodal import (
        write_media_table,
        write_probe_golden,
    )

    media_path, golden_path = _media_fixture_paths()
    _build_once(media_path, lambda tmp: write_media_table(tmp, _media_fixture_rows()))
    _build_once(golden_path, lambda tmp: write_probe_golden(tmp, _media_fixture_rows()))
    return media_path, golden_path


@contract(lambda: f"""
select media_id, media_type, format, n_bytes, width, height, duration_ms
from read_parquet('{_ensure_media_fixtures()[1]}')
""")
def q49_media_metadata(spark, sf_dir):
    """Multimodal metadata probe: deterministic media bytes
    (wav/bmp/png/jpeg/junk) through the distributed mapInPandas probe,
    value-hashed against a single-process run of the SAME probe_media
    — this gates the Spark plumbing (Arrow transfer, schema, nulls,
    partitioning), not probe correctness, which is pinned by
    independent hand-written literals in
    tests/test_operators.py::test_media_probe_and_stdlib_decode (the
    shared-kernel blind-spot rule)."""
    _ensure_shipped(spark)
    from ai_pdf_extraction_spark.operators.multimodal import media_metadata

    media_path, _ = _ensure_media_fixtures()
    df = spark.read.parquet(media_path)
    return media_metadata(df).select(
        "media_id", "media_type", "format", "n_bytes", "width", "height",
        "duration_ms",
    )


def _decode_golden_path() -> str:
    """q53 golden: single-process decode summaries over the same media
    fixture rows, keyed on fixture AND decode-semantics versions."""
    from ai_pdf_extraction_spark.operators.multimodal import (
        MEDIA_DECODE_VERSION,
        write_decode_golden,
    )

    return _build_once(
        _media_fixture_base() + f"_decode_d{MEDIA_DECODE_VERSION}.parquet",
        lambda tmp: write_decode_golden(tmp, _media_fixture_rows()),
    )


@contract(lambda: f"""
select media_id, format, decode_ok, width, height, n_decoded, payload_md5
from read_parquet('{_decode_golden_path()}')
""")
def q53_media_decode(spark, sf_dir):
    """Real media DECODE end-to-end (wav PCM, bmp pixels, png
    zlib+filters, gif LZW — all stdlib): the distributed mapInPandas
    decode stage summarizes every payload (dims, decoded byte count,
    payload md5), value-hashed against a single-process run of the
    same summaries. Plumbing gate like q49/q34; decode arithmetic is
    pinned independently by hand-computed filter/LZW literals."""
    _ensure_shipped(spark)
    from ai_pdf_extraction_spark.operators.multimodal import media_decode_features

    media_path, _ = _ensure_media_fixtures()
    df = spark.read.parquet(media_path)
    return media_decode_features(df)


@contract(lambda: """
with base as (
  select doc_id,
    string_split('Boiler notice ' || (doc_id % 7) || '. ' || text
                 || '. Footer text common', '. ') as arr
  from documents
),
g as (
  select doc_id,
    unnest(arr) as granule,
    unnest(range(1, len(arr) + 1)) as pos
  from base
),
gn as (select * from g where length(granule) > 0),
kept as (
  select doc_id, granule, pos,
    row_number() over (partition by granule order by doc_id, pos) as rn
  from gn
),
per_doc as (
  -- from the ARRAY side, not the exploded side: docs with zero
  -- non-empty granules must stay in the output (n_granules = 0)
  select doc_id, len(list_filter(arr, x -> length(x) > 0)) as n_granules
  from base
),
survivors as (
  select doc_id, count(*) as n_kept,
    md5(string_agg(granule, '. ' order by pos)) as dedup_md5
  from kept where rn = 1 group by doc_id
)
select p.doc_id, p.n_granules,
  coalesce(s.n_kept, 0) as n_kept,
  coalesce(s.dedup_md5, md5('')) as dedup_md5
from per_doc p left join survivors s using (doc_id)
""")
def q54_granule_dedup(spark, sf_dir):
    """Corpus-level exact sentence dedup (the C4/Dolma paragraph-dedup
    family): first corpus-wide occurrence of each '. '-granule wins
    (by doc_id then position), docs reassemble from survivors. The
    driver hash covers per-doc granule counts AND the md5 of the
    reassembled text, so ordering and joining are fully gated."""
    from ai_pdf_extraction_spark.operators.dedup import granule_dedup

    d = _t(spark, sf_dir, "documents")
    # the synthetic corpus text carries no '. ' separators — wrap each
    # doc with a shared-by-all footer and a shared-by-doc_id%7 banner
    # so cross-doc granule dedup REALLY fires (first occurrence wins,
    # every later doc loses its banner+footer)
    d = d.select(
        "doc_id",
        F.concat(
            F.lit("Boiler notice "),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(". "),
            F.col("text"),
            F.lit(". Footer text common"),
        ).alias("text"),
    )
    return granule_dedup(d).select(
        "doc_id",
        "n_granules",
        "n_kept",
        F.md5("dedup_text").alias("dedup_md5"),
    )


@contract(lambda: """
with w as (
  select doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') as words
  from documents
),
doc_sh as (
  select doc_id,
    unnest(list_distinct([array_to_string(words[i:i+2], ' ')
                          for i in range(1, len(words) - 1)])) as shingle
  from w
),
bench_sh as (select distinct shingle from doc_sh where doc_id % 50 = 0),
hits as (
  select d.doc_id, count(*) as n_hits
  from doc_sh d join bench_sh using (shingle)
  group by d.doc_id
)
select doc_id,
  coalesce(n_hits, 0) as n_hits,
  coalesce(n_hits, 0) >= 1 as contaminated
from documents left join hits using (doc_id)
""")
def q55_contamination(spark, sf_dir):
    """Benchmark decontamination (GPT-3 appendix-C / Dolma): every
    50th doc plays the benchmark set; docs sharing any word trigram
    with it are flagged. The benchmark shingle relation broadcasts
    (plan-asserted in pytest); the oracle rebuilds the same trigram
    universe in SQL."""
    from ai_pdf_extraction_spark.operators.dedup import contamination_flags

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    return contamination_flags(d, bench, n=3, min_hits=1)


@contract(lambda: _curate_v2_sql(_FINGERPRINT_EXPR))
def q57_curated_corpus_v2(spark, sf_dir):
    """The full-curation capstone: quality ∧ exact-canonical ∧
    ¬LSH-near-dup ∧ ¬benchmark-contaminated, granule-dedup stats on
    every survivor — every dedup/filter family the engine ships,
    composed in one plan and value-hashed against the stitched
    oracle."""
    from ai_pdf_extraction_spark.plans.curate import curated_corpus_v2

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    return curated_corpus_v2(d, bench, contamination_n=3)


@contract(lambda: """
select case when doc_id % 10 < 3 then 'hot.example.com'
            else 'host-' || (doc_id % 97)::VARCHAR || '.example.org' end as host,
       count(*) as n_docs
from documents
group by 1
""")
def q62_salted_host_counts(spark, sf_dir):
    """Salted skewed-host aggregation (the north rule's "salted
    repartition of skewed hosts", ``plans/partitioning.py:44-129`` —
    the one north-rule component that was pytest-only until r6):
    synthetic doc urls put ~30% of the corpus on one hot host (the
    Common-Crawl Zipf shape), counts run through the two-phase
    (host, salt) partial aggregation + tiny recombine. The per-host
    totals are SALT-INVARIANT, so the DuckDB oracle is a plain
    group-by over the same synthesized host expression — the salt
    (seeded xxhash64, no DuckDB twin) affects only the intermediate
    shuffle distribution, which is exactly the point."""
    from ai_pdf_extraction_spark.plans.partitioning import (
        salted_host_counts,
        with_partition_columns,
    )

    d = _t(spark, sf_dir, "documents")
    pages_like = d.select(
        F.concat(
            F.lit("https://"),
            F.when(F.col("doc_id") % 10 < 3, F.lit("hot.example.com")).otherwise(
                F.concat(
                    F.lit("host-"),
                    (F.col("doc_id") % 97).cast("string"),
                    F.lit(".example.org"),
                )
            ),
            F.lit("/doc/"),
            F.col("doc_id").cast("string"),
        ).alias("url")
    )
    return salted_host_counts(with_partition_columns(pages_like))


@contract(lambda: """
select o_orderkey,
  'INV-' || o_orderkey::varchar as invoice_number,
  round(o_totalprice, 2) as total,
  o_orderdate::date as issued_on,
  (o_orderstatus = 'F') as paid,
  (o_orderkey % 50)::double as discount_pct,
  case when o_orderkey % 3 = 0 then 'PO-' || o_custkey::varchar end as po_reference,
  case when o_orderkey % 7 = 0 then null
       else 'c' || o_custkey::varchar || '@example.com' end as contact_email,
  'invoice' as schema_name,
  2 as schema_version,
  case when o_orderkey % 3 = 1
       then 'Required field ''po_reference'' is empty'
       else '' end as schema_warnings
from orders
""")
def q63_schema_registry_apply(spark, sf_dir):
    """Versioned schema-registry application (the reference's saved
    FieldDefinition schemas, ``routers/schemas.py:42-209`` /
    ``models_db.py:43-105``, as versioned config-in-repo — closes r5
    "missing #4"): synthesize a JSON invoice document per order, load
    the LATEST non-deleted ``invoice`` config (v2 — the committed
    evolution example), and compile it to a typed Catalyst projection:
    currency/date/boolean/percentage/email parsers (the q13/q47
    oracle-checked family) + required/empty warnings (P6). Pure Column
    expressions — schema application is a plan fragment, not a UDF."""
    from ai_pdf_extraction_spark.functions.schema_registry import (
        apply_schema,
        load_schema,
    )

    o = ensure_parallel(_t(spark, sf_dir, "orders"), "o_orderkey")
    doc = o.select(
        "o_orderkey",
        F.to_json(
            F.struct(
                F.concat(F.lit("INV-"), F.col("o_orderkey").cast("string")).alias(
                    "invoice_number"
                ),
                F.concat(F.lit("$"), F.format_number(F.col("o_totalprice"), 2)).alias(
                    "total"
                ),
                F.date_format("o_orderdate", "MM/dd/yyyy").alias("issued_on"),
                F.when(F.col("o_orderstatus") == "F", F.lit("yes"))
                .otherwise(F.lit("no"))
                .alias("paid"),
                F.concat((F.col("o_orderkey") % 50).cast("string"), F.lit("%")).alias(
                    "discount_pct"
                ),
                # three presence states for the v2-mandatory field:
                # %3==0 present+valued, %3==1 present EXPLICITLY empty
                # (warns), %3==2 null → to_json DROPS the key → missing
                # → trusted, no warning (validation.py:441-445)
                F.when(
                    F.col("o_orderkey") % 3 == 0,
                    F.concat(F.lit("PO-"), F.col("o_custkey").cast("string")),
                )
                .when(F.col("o_orderkey") % 3 == 1, F.lit(""))
                .alias("po_reference"),
                F.when(F.col("o_orderkey") % 7 == 0, F.lit("not-an-email"))
                .otherwise(
                    F.concat(
                        F.lit("c"),
                        F.col("o_custkey").cast("string"),
                        F.lit("@example.com"),
                    )
                )
                .alias("contact_email"),
            )
        ).alias("doc"),
    )
    out = apply_schema(doc, load_schema("invoice"), "doc", keys=["o_orderkey"])
    return out.withColumn(
        "schema_warnings", F.concat_ws("|", F.col("schema_warnings"))
    )


@contract(lambda: _curate_v2_sql(
    _FINGERPRINT_EXPR,
    extra_cte=_emb_losers_cte(),
    extra_where="  and s.doc_id not in (select id_b from emb_losers)\n",
))
def q65_curated_corpus_v3(spark, sf_dir):
    """The EVERY-family curation capstone: v2 (quality ∧
    exact-canonical ∧ ¬LSH-near-dup ∧ ¬contaminated + granule stats)
    ∧ ¬embedding-near-dup-loser — the semantic dedup family via the
    sign-LSH bucketed twin (q64), so paraphrase-class duplicates drop
    too and every leg stays scale-safe (no all-pairs anywhere)."""
    _ensure_shipped(spark)
    from ai_pdf_extraction_spark.plans.curate import curated_corpus_v3

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    return curated_corpus_v3(
        d,
        bench,
        _t(spark, sf_dir, "embeddings"),
        contamination_n=3,
        cos_threshold=0.45,
    )


@contract(lambda: """
with urls as (select distinct 'doc://' || lpad(doc_id::varchar, 8, '0') as url
              from documents),
nn as (select count(*) as n from urls),
params as (select greatest(((select n from nn) - 4) // 48, 1) as stride),
firsts as (select url from urls order by url limit 2),
lasts as (select url from urls order by url desc limit 2),
ends as (select url from firsts union all select url from lasts),
mids as (select url
         from (select url, ('0x' || substr(md5(url), 1, 8))::bigint as h
               from urls
               where url not in (select url from ends))
         where h % (select stride from params) = 0
         order by h, url
         limit 12)
select url from urls where (select n from nn) <= 16
union
select url from (
  select url from firsts
  union all select url from lasts
  union all select url from mids
) where (select n from nn) > 16
""")
def q50_representative_sample(spark, sf_dir):
    """Representative sampling (S4 — the reference's first2 + last2 +
    strided-middle page policy, ``pdf_service.py:203-283``, lifted to
    corpus scale) over synthetic doc urls. Scale-safe form (round-3
    verdict item 1): no unpartitioned global sort — first/last-2 via
    TakeOrderedAndProject, middle via md5-hash stride filter + exact
    top-k by (hash, url); the oracle mirrors the hash arithmetic
    (``('0x'||substr(md5(url),1,8))::bigint``) so the exact selected
    set is value-hashed."""
    from ai_pdf_extraction_spark.plans.profiling import representative_sample

    d = _t(spark, sf_dir, "documents")
    pages_like = d.select(
        F.concat(
            F.lit("doc://"), F.lpad(F.col("doc_id").cast("string"), 8, "0")
        ).alias("url"),
        F.col("text").cast("binary").alias("html"),
    )
    return representative_sample(pages_like, max_docs=16).select("url")


# Adversarial url shapes for q37 (review-r5 regression classes) —
# shared verbatim with the oracle so the hard cases are cross-engine
# hashed every round, not just pytest-pinned.
_URL_SAMPLES: tuple[str, ...] = (
    "http://a/b&gclid=x/rest",  # literal '&' in PATH, no query
    "https://a.com?sessionid=42",  # query directly after host
    "http://h/a&b?utm_a=1&keep=2",  # path '&' + real tracking strip
    "https://h.com/a?utm_a=1&utm_b=2",  # all-tracking query
    "https://a.com/p?u=http://x.com//y",  # query carrying a url
)

# The DuckDB twin of operators.urls.canonicalize_url as CTE text over
# a ``raw(event_id, raw_url)`` relation (steps s1–s5 mirror the
# operator's numbered steps 1–5; keep in lockstep). Shared by the q37
# oracle and the q80 frontier oracle so both contracts exercise ONE
# canonicalization definition per engine.
_URL_CANON_CHAIN_SQL = r"""s1 as (select event_id, raw_url,
            regexp_replace(raw_url, '#.*$', '', 'g') as u from raw
), s2 as (select event_id, raw_url,
            case when instr(u, '?') > 0 then
              substring(u, 1, instr(u, '?') - 1) ||
              regexp_replace(regexp_replace(regexp_replace(
                substring(u, instr(u, '?')),
                '(?i)[?&](?:utm_[a-z]+|fbclid|gclid)=[^&#]*', '', 'g'),
                '^&', '?', 'g'),
                '[?&]$', '', 'g')
            else u end as u from s1
), s3 as (select event_id, raw_url,
            case when regexp_extract(u, '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*)', 1) = ''
                 then u
                 else lower(regexp_extract(u, '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*)', 1))
                      || regexp_replace(u, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*', '')
            end as u from s2
), s4 as (select event_id, raw_url,
            regexp_replace(regexp_replace(u,
              '^(https://[^/:?]+):443([/?]|$)', '\1\2'),
              '^(http://[^/:?]+):80([/?]|$)', '\1\2') as u from s3
), s5 as (select event_id, raw_url,
            case when strpos(u, '?') > 0
                 then regexp_replace(substr(u, 1, strpos(u, '?') - 1),
                                     '([^:/])//+', '\1/', 'g')
                      || substr(u, strpos(u, '?'))
                 else regexp_replace(u, '([^:/])//+', '\1/', 'g')
            end as u from s4
)"""
_URL_CANON_FINAL_SQL = (
    r"regexp_replace(u, '(://[^/?]+/[^?]*[^/?])/($|\?)', '\1\2')"
)

# q80's messy-url generator: COARSE keys (host mod 7, path mod 211)
# so distinct events collide on a canonical url — the %3 variants 1/2
# canonicalize together (frag drop / trailing-slash trim) while
# variant 0 keeps its ?x=2 query, giving within-batch duplicate
# groups AND old∩new seen-set hits under the %4 split. Events with
# id % 10 == 0 instead get a globally-UNIQUE /u/ path (keyed on the
# full id): since the old side is dense in every modular key class it
# covers the whole /p/ space, and without the unique slice the new
# batch would be 100% in_seen — a to_crawl-vacuous contract (the q73
# 0-rows-on-both-engines-proves-nothing lesson).
_Q80_RAW_URL_SQL = (
    "'HTTPS://Host' || (event_id % 7) || '.Example.COM:443' || "
    "(case when event_id % 10 = 0 then '/u//' || event_id "
    "else '/p//' || (event_id % 211) end) || "
    "(case when event_id % 3 = 0 then "
    "'/?utm_source=a&x=2' when event_id % 3 = 1 then '/#frag' "
    "else '/' end)"
)


def _q80_messy_url() -> F.Column:
    """The Spark twin of ``_Q80_RAW_URL_SQL`` (keep in lockstep).

    Wrapped non-NULLABLE (coalesce with a literal — an identity here:
    event_id never nulls): with a nullable url every downstream join
    on the canonical key makes InferFiltersFromConstraints add
    ``isnotnull(canon_url)``, and predicate pushdown then inlines the
    ENTIRE ~20-regex canonicalization chain into the parquet scan's
    DataFilters — evaluated on the pre-repartition (single-task)
    scan, then recomputed above. Measured 12 s → 3.5 s on q80 at
    sf1.0 from this wrapper alone."""
    return F.coalesce(_q80_messy_url_raw(), F.lit(""))


def _q80_messy_url_raw() -> F.Column:
    return F.concat(
        F.lit("HTTPS://Host"),
        (F.col("event_id") % 7).cast("string"),
        F.lit(".Example.COM:443"),
        F.when(
            F.col("event_id") % 10 == 0,
            F.concat(F.lit("/u//"), F.col("event_id").cast("string")),
        ).otherwise(
            F.concat(
                F.lit("/p//"), (F.col("event_id") % 211).cast("string")
            )
        ),
        F.when(F.col("event_id") % 3 == 0, "/?utm_source=a&x=2")
        .when(F.col("event_id") % 3 == 1, "/#frag")
        .otherwise("/"),
    )


@contract(lambda: f"""
with {_q80_frontier_ctes()}
select canon_url, first_id, n_discovered, in_seen, to_crawl from fr
""")
def q80_url_frontier_delta(spark, sf_dir):
    """Crawl-frontier delta: the new batch's discovered urls (events
    with id % 4 == 0) are canonicalized, collapsed within the batch,
    and probed against the seen-set built from the already-crawled
    partition — the url-keyed twin of the reference's ingest-time
    duplicate rejection (routers/batches.py:381), decided BEFORE the
    fetch. The seen-set is never shuffled (broadcast semi-probe)."""
    from ai_pdf_extraction_spark.operators.urls import (
        url_frontier_delta,
        with_canonical_url,
    )

    # the staged canonicalizer is ~20 regex ops per url — by far the
    # heaviest per-row leg of every composed frontier plan (q83/q88)
    e = ensure_parallel(_t(spark, sf_dir, "events"), "event_id")
    pages = e.select("event_id", _q80_messy_url().alias("url"))
    # index-build job: one distinct over the historical partition
    # (staged canonicalizer: this leg used to dominate the composed
    # frontier plans' codegen)
    seen = (
        with_canonical_url(pages.filter(F.col("event_id") % 4 != 0), "url")
        .select("canon_url")
        .distinct()
    )
    new = pages.filter(F.col("event_id") % 4 == 0)
    return url_frontier_delta(new, seen)


@contract(lambda: f"""
with {_q80_frontier_ctes()},
hosted as (
  select canon_url, first_id,
    regexp_extract(canon_url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?]*)', 1)
      as host
  from fr where to_crawl
),
ranked as (
  select canon_url, host, first_id,
    row_number() over (partition by host
                       order by first_id % 64, md5(canon_url), canon_url)
      as pick_rank
  from hosted
)
select canon_url, host, first_id, pick_rank::bigint as pick_rank
from ranked where pick_rank <= 20
""")
def q83_frontier_host_cap(spark, sf_dir):
    """Per-host crawl politeness over the q80 frontier: each host's
    to-crawl urls capped at 20 for the cycle, ranked in the
    deterministic (shard, md5(url), url) order via the two-phase
    sharded rank — the skewed-host hazard handled on the frontier
    side (deferred urls resurface next cycle: never seen-appended)."""
    from ai_pdf_extraction_spark.operators.urls import frontier_host_cap

    return frontier_host_cap(
        q80_url_frontier_delta(spark, sf_dir), per_host=20
    )


def _q84_links(spark, sf_dir):
    """Deterministic page-level hyperlink relation synthesized from
    ``events`` (the q80 discipline: both engines derive the identical
    link set from modular arithmetic on event_id — no external data).
    13 hosts. Half the links follow the 7x+3 permutation (a pure
    permutation alone would make PageRank EXACTLY uniform — every
    host one in/out edge, fixed point = scale — so ranks would carry
    no signal); the other half concentrate on hosts 0-2, skewing
    in-degree so the rank vector genuinely differentiates."""
    e = ensure_parallel(_t(spark, sf_dir, "events"), "event_id")
    eid = F.col("event_id")
    dst_hid = F.when(eid % 2 == 0, (eid * 7 + 3) % 13).otherwise(eid % 3)
    # coalesce: non-nullable urls (identity — event_id never nulls), or
    # the pagerank joins' inferred isnotnull(host) pushes the host_of
    # regex into the single-task scan (the _q80_messy_url lesson)
    return e.select(
        F.coalesce(
            F.concat(
                F.lit("http://host"),
                (eid % 13).cast("string"),
                F.lit(".example.com/p/"),
                eid.cast("string"),
            ),
            F.lit(""),
        ).alias("src_url"),
        F.coalesce(
            F.concat(
                F.lit("http://host"),
                dst_hid.cast("string"),
                F.lit(".example.com/q/"),
                (eid % 211).cast("string"),
            ),
            F.lit(""),
        ).alias("dst_url"),
    )


def _q84_pagerank_sql(iterations: int = 3) -> str:
    return (
        "with "
        + _q84_pagerank_ctes(iterations)
        + f'\nselect host, r as "rank" from r{iterations}'
    )


@contract(lambda: _q84_pagerank_sql(3))
def q84_host_pagerank(spark, sf_dir):
    """Host-graph PageRank (3 damped iterations, integer micro-units):
    the Common-Crawl-style host centrality a frontier scheduler and
    mixture builder rank origins by. Integer arithmetic end-to-end —
    rank sums are exact int64, so the result is bit-identical at any
    parallelism and matches the DuckDB chained-CTE oracle exactly."""
    from ai_pdf_extraction_spark.operators.graphs import (
        host_edges,
        pagerank,
    )

    # truncate: checkpointing the tiny collapsed host-edge cells cuts
    # the 1M-row link synthesis + host_of subtree out of every
    # iteration job's planning (measured 6.9 -> 3.7 s at sf1.0)
    return pagerank(
        host_edges(_q84_links(spark, sf_dir)),
        iterations=3,
        truncate_input_lineage=True,
    )


@contract(lambda: f"""
with {_q84_graph_ctes()},
outs as (
  select src as host, count(*)::bigint as out_hosts,
    sum(weight)::bigint as out_weight
  from edges group by src
),
ins as (
  select dst as host, count(*)::bigint as in_hosts,
    sum(weight)::bigint as in_weight
  from edges group by dst
)
select coalesce(o.host, i.host) as host,
  coalesce(o.out_hosts, 0) as out_hosts,
  coalesce(o.out_weight, 0) as out_weight,
  coalesce(i.in_hosts, 0) as in_hosts,
  coalesce(i.in_weight, 0) as in_weight
from outs o full outer join ins i on o.host = i.host
""")
def q85_link_degree_stats(spark, sf_dir):
    """Webgraph degree marginals per host (in/out distinct-host and
    weight totals) — the dataset-card companion to q84, two
    partial-agg groupBys recombined on the tiny per-host cells."""
    from ai_pdf_extraction_spark.operators.graphs import (
        host_edges,
        link_degree_stats,
    )

    return link_degree_stats(host_edges(_q84_links(spark, sf_dir)))


# q86: robots parse (windows partition by host) + longest-match
# apply (conditional maxes) — keep in lockstep with
# operators/robots.py
@contract(lambda: f"""
with lurls as (
  select 'http://host' || (event_id % 13)::varchar || '.example.com/p/'
           || event_id::varchar as url
  from events
  union
  select 'http://host' || (case when event_id % 2 = 0
             then (event_id * 7 + 3) % 13
             else event_id % 3 end)::varchar
           || '.example.com/q/' || (event_id % 211)::varchar
  from events
),
robots as (
  select 'host' || i::varchar || '.example.com' as host,
    case when i % 3 = 0
      then 'User-agent: *' || chr(10) || 'Disallow: /p/' || chr(10)
           || 'Allow: /p/1'
      else 'User-agent: BadBot' || chr(10) || 'Disallow: /' || chr(10)
           || chr(10) || 'User-agent: *' || chr(10) || 'Disallow: /q/'
    end as txt
  from generate_series(0, 12) t(i) where i % 3 != 2
),
{_robots_parse_ctes()},
u as (
  select url,
    regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?]*)', 1) as host,
    case when regexp_replace(url,
            '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*', '') = '' then '/'
      else regexp_replace(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*', '')
    end as tgt
  from (select distinct url from lurls)
),
j as (
  select u.url, u.host, r.prefix, r.is_allow, r.prefix_len,
    (r.prefix is not null
     and substr(u.tgt, 1, r.prefix_len::int) = r.prefix) as hit
  from u left join rules2 r using (host)
),
agg as (
  select url, host,
    coalesce(max(case when is_allow and hit then prefix_len end), -1)
      ::bigint as robots_allow_len,
    coalesce(max(case when not is_allow and hit then prefix_len end), -1)
      ::bigint as robots_dis_len
  from j group by url, host
)
select url, host, robots_allow_len, robots_dis_len,
  (robots_allow_len >= robots_dis_len) as robots_allowed
from agg
""")
def q86_robots_filter(spark, sf_dir):
    """robots.txt admission control over the synthesized link corpus:
    per-host robots bodies (only ``User-agent: *`` groups bind; the
    BadBot group must be ignored) parsed to a prefix-rule relation,
    then every distinct url decided by RFC 9309 longest-match (allow
    wins ties) — one broadcast join + one partial-agg groupBy, no
    window. Hosts ≡ 2 (mod 3) publish no robots: all-allowed."""
    from ai_pdf_extraction_spark.operators.robots import (
        parse_robots,
        robots_filter,
    )

    links = _q84_links(spark, sf_dir)
    urls = (
        links.select(F.col("src_url").alias("url"))
        .union(links.select("dst_url"))
        .distinct()
    )
    robots = (
        spark.range(13)
        .filter((F.col("id") % 3) != 2)
        .select(
            F.concat(
                F.lit("host"), F.col("id").cast("string"),
                F.lit(".example.com"),
            ).alias("host"),
            F.when(
                F.col("id") % 3 == 0,
                F.lit("User-agent: *\nDisallow: /p/\nAllow: /p/1"),
            )
            .otherwise(
                F.lit(
                    "User-agent: BadBot\nDisallow: /\n\n"
                    "User-agent: *\nDisallow: /q/"
                )
            )
            .alias("robots_txt"),
        )
    )
    return robots_filter(urls, parse_robots(robots))


# q87: the asset-extension regex is injected verbatim from
# operators/urls._ASSET_EXT_RE (plain alternation — identical
# semantics in Java regex and RE2); regexp_replace needs the
# explicit 'g' flag in DuckDB (Spark replaces all by default)
@contract(lambda: """
with raw as (
  select 'http://'
    || case when event_id % 2 = 0 then 'www.' else '' end
    || 'host' || (event_id % 13)::varchar || '.example.com'
    || case
         when event_id % 5 = 0
           then '/img/' || event_id::varchar || '.jpg'
         when event_id % 5 = 1
           then '/session/' || (event_id * 987654321)::varchar
         when event_id % 5 = 2
           then '/l/' || repeat('x', (event_id % 90)::int)
         else '/article/x' || (event_id % 50)::varchar
       end as url
  from events
),
u as (
  select url,
    regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?]*)', 1) as host,
    regexp_replace(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*', '') as after
  from (select distinct url from raw)
),
p as (
  select url, host,
    case when instr(after, '?') > 0
      then substr(after, 1, instr(after, '?') - 1) else after end as path0
  from u
),
f as (
  select url, host,
    case when path0 = '' then '/' else path0 end as path,
    list_transform(
      range(1, len(string_split(host, '.')) + 1),
      i -> array_to_string(string_split(host, '.')[i:], '.')
    ) as sufs
  from p
)
select url, host,
  regexp_matches(lower(path), '{asset_re}') as is_asset,
  (2 * length(regexp_replace(path, '[^0-9]', '', 'g')) > length(path))
    as digit_heavy,
  (length(url) > 60) as too_long,
  list_has_any(sufs, ['host3.example.com', 'spam.test'])
    as blocked_domain,
  not (regexp_matches(lower(path), '{asset_re}')
       or (2 * length(regexp_replace(path, '[^0-9]', '', 'g'))
           > length(path))
       or (length(url) > 60)
       or list_has_any(sufs, ['host3.example.com', 'spam.test']))
    as keep
from f
""".replace("{asset_re}", _ASSET_EXT_RE))
def q87_url_prefilter(spark, sf_dir):
    """Pre-fetch URL quality gate (C4/RefinedWeb first stage) over a
    deliberately messy synthesized frontier: asset extensions,
    digit-heavy session paths, over-long urls, and a registrable-
    suffix domain blocklist (www. hosts must block via their parent
    suffix). Every flag fires for some rows and every decision is
    exact string/integer Column work inside the scan — no join, no
    shuffle beyond the distinct."""
    from ai_pdf_extraction_spark.operators.urls import url_prefilter

    e = _t(spark, sf_dir, "events")
    eid = F.col("event_id")
    url = F.concat(
        F.lit("http://"),
        F.when(eid % 2 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.lit("host"),
        (eid % 13).cast("string"),
        F.lit(".example.com"),
        F.when(
            eid % 5 == 0,
            F.concat(F.lit("/img/"), eid.cast("string"), F.lit(".jpg")),
        )
        .when(
            eid % 5 == 1,
            F.concat(
                F.lit("/session/"), (eid * 987654321).cast("string")
            ),
        )
        .when(
            eid % 5 == 2,
            F.concat(F.lit("/l/"), F.repeat(F.lit("x"), (eid % 90).cast("int"))),
        )
        .otherwise(
            F.concat(F.lit("/article/x"), (eid % 50).cast("string"))
        ),
    )
    urls = e.select(url.alias("url")).distinct()
    return url_prefilter(
        urls,
        blocklist=["host3.example.com", "spam.test"],
        max_len=60,
    )


@contract(lambda: """
with tok as (
  select doc_id,
    unnest(string_split_regex(lower(text), '[^a-z0-9]+')) as term
  from documents
),
tf as (
  select doc_id, term, count(*)::bigint as tf
  from tok where term != '' group by doc_id, term
),
df as (select term, count(*)::bigint as df from tf group by term),
ranked as (
  select tf.doc_id, tf.term, tf.tf, df.df,
    row_number() over (partition by tf.doc_id
                       order by (tf.tf::double / df.df) desc, tf.term)
      as pick_rank
  from tf join df using (term)
)
select doc_id, term, tf, df, pick_rank::bigint as pick_rank
from ranked where pick_rank <= 5
""")
def q89_distinctive_terms(spark, sf_dir):
    """Top-5 distinctive terms per document by exact tf/df ranking
    (monotone-equivalent to tf-idf, no libm log): one tokenization
    pass → persisted (doc, term) tf relation → df as a groupBy over
    tf → AQE join-back → per-doc top-k window."""
    from ai_pdf_extraction_spark.operators.text_analysis import (
        distinctive_terms,
    )

    return distinctive_terms(_t(spark, sf_dir, "documents"), k=5)


# q91: q80 frontier ⋈ q84 ranks, global top-budget in the
# exact total order (set compare — the driver sorts rows)
@contract(lambda: f"""
with {_q80_frontier_ctes()},
{_q84_pagerank_ctes(3)},
f as (
  select canon_url,
    regexp_extract(canon_url,
                   '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?]*)', 1) as host
  from fr where to_crawl
),
j as (
  select f.canon_url, f.host, coalesce(r.r, 0)::bigint as host_rank
  from f left join r3 r on r.host = f.host
)
select canon_url, host, host_rank from j
order by host_rank desc, md5(canon_url), canon_url
limit 150
""")
def q91_priority_frontier(spark, sf_dir):
    """Centrality-prioritized crawl budgeting: the q80 frontier's
    to-crawl urls scheduled by q84 host PageRank under a 150-fetch
    budget — best-linked hosts first, never-ranked hosts last (rank
    0), total order (host_rank desc, md5, url) so the selected set is
    deterministic. The global top-budget compiles to
    TakeOrderedAndProject: per-partition heaps, no global sort."""
    from ai_pdf_extraction_spark.operators.graphs import (
        host_edges,
        pagerank,
    )
    from ai_pdf_extraction_spark.operators.urls import (
        frontier_priority_budget,
    )

    fr = q80_url_frontier_delta(spark, sf_dir)
    ranks = pagerank(host_edges(_q84_links(spark, sf_dir)), iterations=3)
    return frontier_priority_budget(fr, ranks, budget=150)


# q92: group front half + crawl-delay tail; caps override the
# scalar 15 via coalesce
@contract(lambda: f"""
with {_q80_frontier_ctes()},
robots as (
  select 'host' || i::varchar || '.example.com' as host,
    case when i % 2 = 0
      then 'User-agent: *' || chr(10) || 'Crawl-delay: '
           || (i + 2)::varchar || chr(10) || 'Disallow: /u/9'
      else 'User-agent: BadBot' || chr(10) || 'Crawl-delay: 1'
           || chr(10) || chr(10) || 'User-agent: *' || chr(10)
           || 'Crawl-delay: fast'
    end as txt
  from generate_series(0, 6) t(i)
),
{_robots_group_ctes()},
dvals as (
  select g.host,
    regexp_replace(
      regexp_extract(g.l, '(?i)^crawl-delay[ \t]*:([^\r\n]*)', 1),
      '^[ \t\r]+|[ \t\r]+$', '', 'g') as v
  from grouped g join star s using (host, grp)
  where regexp_matches(g.l, '(?i)^crawl-delay[ \t]*:') and g.grp > 0
),
delays as (
  select host, max(try_cast(v as bigint)) as crawl_delay
  from dvals
  where regexp_matches(v, '^[0-9]+$')
    and try_cast(v as bigint) is not null
  group by host
),
caps as (
  select host,
    least(25, case when crawl_delay > 0 then 60 // crawl_delay
                   else 25 end)::bigint as cap
  from delays
),
hosted as (
  select canon_url, first_id,
    regexp_extract(canon_url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?]*)', 1)
      as host
  from fr where to_crawl
),
ranked as (
  select canon_url, host, first_id,
    row_number() over (partition by host
                       order by first_id % 64, md5(canon_url), canon_url)
      as pick_rank
  from hosted
)
select r.canon_url, r.host, r.first_id, r.pick_rank::bigint as pick_rank
from ranked r left join caps c using (host)
where r.pick_rank <= coalesce(c.cap, 15)
""")
def q92_crawl_delay_caps(spark, sf_dir):
    """Crawl-delay-scaled politeness: per-host ``Crawl-delay``
    directives (the Bing/Yandex convention; max wins when several
    apply, junk values ignored) become per-cycle caps —
    ``min(max_cap, cycle div delay)`` — overriding the scalar default
    in the sharded host-cap rank. Even hosts publish real delays
    (2,4,6,8s → caps 25,15,10,7 in a 60s cycle at max 25); odd hosts
    publish an unparseable value and keep the default 15."""
    from ai_pdf_extraction_spark.operators.robots import (
        host_caps_from_delays,
        parse_crawl_delays,
    )
    from ai_pdf_extraction_spark.operators.urls import frontier_host_cap

    robots = spark.range(7).select(
        F.concat(
            F.lit("host"), F.col("id").cast("string"), F.lit(".example.com")
        ).alias("host"),
        F.when(
            F.col("id") % 2 == 0,
            F.concat(
                F.lit("User-agent: *\nCrawl-delay: "),
                (F.col("id") + 2).cast("string"),
                F.lit("\nDisallow: /u/9"),
            ),
        )
        .otherwise(
            F.lit(
                "User-agent: BadBot\nCrawl-delay: 1\n\n"
                "User-agent: *\nCrawl-delay: fast"
            )
        )
        .alias("robots_txt"),
    )
    caps = host_caps_from_delays(
        parse_crawl_delays(robots), cycle_seconds=60, max_cap=25
    )
    return frontier_host_cap(
        q80_url_frontier_delta(spark, sf_dir),
        per_host=15,
        per_host_caps=caps,
    )


# q93: block-scoped sitemap entries (loc paired with ITS
# lastmod) → canon → crawl-history probe; ISO text dates
@contract(lambda: f"""
with ent0 as (
  select (event_id % 7) as hid,
    '<url>' || chr(10) || '  <loc>https://Host'
      || (event_id % 7)::varchar || '.example.com/s/'
      || (event_id % 509)::varchar || '</loc>' || chr(10) || '  '
      || case when (event_id % 509) % 4 != 0
           then '<lastmod>2026-01-'
                || lpad(((event_id % 28) + 1)::varchar, 2, '0')
                || '</lastmod>'
           else '' end
      || chr(10) || '</url>' as entry
  from events
),
xml as (
  select hid,
    '<urlset>' || string_agg(entry, '' order by entry) || '</urlset>'
      as sitemap_xml
  from ent0 group by hid
),
sm as (
  select 'host' || hid::varchar || '.example.com' as host, sitemap_xml
  from xml
),
blocks as (
  select host,
    unnest(regexp_extract_all(sitemap_xml, '(?s)<url>(.*?)</url>', 1))
      as b
  from sm
),
parsed as (
  select host,
    replace(replace(replace(replace(replace(
      regexp_extract(b, '(?s)<loc>[ \t\r\n\f]*(.*?)[ \t\r\n\f]*</loc>', 1),
      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&apos;', chr(39)),
      '&amp;', '&') as raw_url,
    nullif(regexp_extract(b, '(?s)<lastmod>[ \t\r\n\f]*(.*?)[ \t\r\n\f]*</lastmod>', 1),
           '') as lastmod
  from blocks
  where regexp_extract(b, '(?s)<loc>[ \t\r\n\f]*(.*?)[ \t\r\n\f]*</loc>', 1) != ''
),
raw as (select distinct 0::bigint as event_id, raw_url from parsed),
{_URL_CANON_CHAIN_SQL},
cmap as (select raw_url, {_URL_CANON_FINAL_SQL} as canon_url from s5),
canon as (
  select p.host, c.canon_url, max(p.lastmod) as lastmod
  from parsed p join cmap c using (raw_url)
  group by p.host, c.canon_url
),
crawled as (
  select distinct 'https://host' || (event_id % 7)::varchar
      || '.example.com/s/' || (event_id % 509)::varchar as canon_url,
    '2026-01-15' as crawled_at
  from events where event_id % 3 = 0
)
select c.host, c.canon_url, c.lastmod, h.crawled_at,
  (h.crawled_at is null
   or (c.lastmod is not null and c.lastmod > h.crawled_at))
    as needs_fetch
from canon c left join crawled h using (canon_url)
""")
def q93_sitemap_recrawl(spark, sf_dir):
    """Freshness-aware recrawl frontier: block-scoped sitemap entries
    (each <loc> paired with ITS sibling <lastmod>; pretty-printed
    blocks exercise the (?s) flag) decided against the crawl history
    — never-crawled urls and lastmod-newer-than-crawl urls need a
    fetch; ISO text dates compare lexicographically, no timestamp
    parsing. The history is scanned against the broadcast batch,
    never shuffled."""
    from ai_pdf_extraction_spark.operators.urls import (
        parse_sitemap_entries,
        sitemap_recrawl_delta,
    )

    e = _t(spark, sf_dir, "events")
    eid = F.col("event_id")
    lastmod = F.concat(
        F.lit("2026-01-"),
        F.lpad(((eid % 28) + 1).cast("string"), 2, "0"),
    )
    entry = F.concat(
        F.lit("<url>\n  <loc>https://Host"),
        (eid % 7).cast("string"),
        F.lit(".example.com/s/"),
        (eid % 509).cast("string"),
        F.lit("</loc>\n  "),
        # keyed by the URL class (not the event): K%4==0 pages never
        # advertise lastmod, so max() keeps them null and the
        # no-evidence leg of needs_fetch is exercised
        F.when(
            (eid % 509) % 4 != 0,
            F.concat(F.lit("<lastmod>"), lastmod, F.lit("</lastmod>")),
        ).otherwise(F.lit("")),
        F.lit("\n</url>"),
    )
    xml = (
        e.select((eid % 7).cast("string").alias("hid"), entry.alias("entry"))
        .groupBy("hid")
        .agg(
            F.concat(
                F.lit("<urlset>"),
                F.concat_ws("", F.array_sort(F.collect_list("entry"))),
                F.lit("</urlset>"),
            ).alias("sitemap_xml")
        )
    )
    sitemaps = xml.select(
        F.concat(F.lit("host"), F.col("hid"), F.lit(".example.com")).alias(
            "host"
        ),
        "sitemap_xml",
    )
    crawled = (
        e.filter(eid % 3 == 0)
        .select(
            F.concat(
                F.lit("https://host"),
                (eid % 7).cast("string"),
                F.lit(".example.com/s/"),
                (eid % 509).cast("string"),
            ).alias("canon_url"),
            F.lit("2026-01-15").alias("crawled_at"),
        )
        .distinct()
    )
    return sitemap_recrawl_delta(parse_sitemap_entries(sitemaps), crawled)


# q90: sitemap parse (regexp_extract_all + entity decode) →
# canon chain (distinct raw urls, joined back) → seen probe
@contract(lambda: f"""
with ent as (
  select (event_id % 7) as hid,
    '<url><loc> https://Host' || (event_id % 7)::varchar
      || '.example.com/s/' || (event_id % 509)::varchar
      || case when event_id % 4 = 0
           then '?x=1&amp;utm_source=z' else '' end
      || ' </loc></url>' as entry
  from events
),
xml as (
  select hid,
    '<urlset>' || string_agg(entry, '' order by entry) || '</urlset>'
      as sitemap_xml
  from ent group by hid
),
sm as (
  select 'host' || hid::varchar || '.example.com' as host, sitemap_xml
  from xml
),
locs as (
  select host,
    unnest(regexp_extract_all(sitemap_xml, '<loc>[ \t\r\n\f]*(.*?)[ \t\r\n\f]*</loc>', 1))
      as loc_url
  from sm
),
dec as (
  select host, dec_url from (
    select host,
      replace(replace(replace(replace(replace(loc_url,
        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&apos;', chr(39)),
        '&amp;', '&') as dec_url
    from locs
  ) where dec_url != ''
),
raw as (select distinct 0::bigint as event_id, dec_url as raw_url from dec),
{_URL_CANON_CHAIN_SQL},
cmap as (select raw_url, {_URL_CANON_FINAL_SQL} as canon_url from s5),
canon as (
  select distinct d.host, c.canon_url
  from dec d join cmap c on d.dec_url = c.raw_url
),
seen as (
  select distinct 'https://host' || (event_id % 7)::varchar
    || '.example.com/s/' || (event_id % 509)::varchar as canon_url
  from events where event_id % 3 != 0
)
select c.host, c.canon_url,
  (s.canon_url is not null) as in_seen,
  (s.canon_url is null) as to_crawl
from canon c left join seen s using (canon_url)
""")
def q90_sitemap_discovery(spark, sf_dir):
    """Sitemap-driven url discovery — the discovery half of the crawl
    stack composed with the seen-set probe: per-host sitemap XML
    (synthesized deterministically, with entity-encoded queries and
    padded <loc> whitespace) is parsed, canonicalized, and flagged
    against the already-crawled set via the q80 broadcast semi — the
    seen side is scanned, never shuffled."""
    from ai_pdf_extraction_spark.operators.urls import (
        parse_sitemaps,
        with_canonical_url,
    )

    e = _t(spark, sf_dir, "events")
    eid = F.col("event_id")
    entry = F.concat(
        F.lit("<url><loc> https://Host"),
        (eid % 7).cast("string"),
        F.lit(".example.com/s/"),
        (eid % 509).cast("string"),
        F.when(eid % 4 == 0, F.lit("?x=1&amp;utm_source=z")).otherwise(
            F.lit("")
        ),
        F.lit(" </loc></url>"),
    )
    xml = (
        e.select((eid % 7).cast("string").alias("hid"), entry.alias("entry"))
        .groupBy("hid")
        .agg(
            F.concat(
                F.lit("<urlset>"),
                F.concat_ws("", F.array_sort(F.collect_list("entry"))),
                F.lit("</urlset>"),
            ).alias("sitemap_xml")
        )
    )
    sitemaps = xml.select(
        F.concat(F.lit("host"), F.col("hid"), F.lit(".example.com")).alias(
            "host"
        ),
        "sitemap_xml",
    )
    # feeds the semi-probe build side AND the flag join
    canon = persist(
        "q90.canon",
        with_canonical_url(parse_sitemaps(sitemaps), "url")
        .select("host", "canon_url")
        .distinct(),
    )
    seen = (
        e.filter(eid % 3 != 0)
        .select(
            F.concat(
                F.lit("https://host"),
                (eid % 7).cast("string"),
                F.lit(".example.com/s/"),
                (eid % 509).cast("string"),
            ).alias("canon_url")
        )
        .distinct()
    )
    hits = seen.join(
        F.broadcast(canon.select("canon_url")), "canon_url", "leftsemi"
    ).withColumn("_seen", F.lit(True))
    in_seen = F.coalesce("_seen", F.lit(False))
    return canon.join(hits, "canon_url", "left").select(
        "host",
        "canon_url",
        in_seen.alias("in_seen"),
        (~in_seen).alias("to_crawl"),
    )


# q88: q80 frontier → prefilter → robots → host cap, one chain.
# The robots match target is path+QUERY (tgt), the prefilter's
# asset/digit tests use the query-stripped path — keep both in
# lockstep with url_prefilter/robots_filter.
@contract(lambda: f"""
with {_q80_frontier_ctes()},
pfu as (
  select fr.*,
    regexp_extract(canon_url,
                   '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?]*)', 1) as host,
    regexp_replace(canon_url,
                   '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*', '') as after
  from fr
),
pff as (
  select *,
    case when after = '' then '/' else after end as tgt,
    case when instr(after, '?') > 0
      then (case when substr(after, 1, instr(after, '?') - 1) = ''
              then '/' else substr(after, 1, instr(after, '?') - 1) end)
      else (case when after = '' then '/' else after end)
    end as path,
    list_transform(
      range(1, len(string_split(host, '.')) + 1),
      i -> array_to_string(string_split(host, '.')[i:], '.')
    ) as sufs
  from pfu
),
pf as (
  select canon_url, first_id, to_crawl, host, tgt,
    (regexp_matches(lower(path), '{{asset_re}}')
     or (5 * length(regexp_replace(path, '[^0-9]', '', 'g'))
         > 3 * length(path))
     or (length(canon_url) > 32)
     or list_has_any(sufs, ['host5.example.com'])) as filtered
  from pff
),
robots as (
  select 'host' || i::varchar || '.example.com' as host,
    case when i % 2 = 0
      then 'User-agent: *' || chr(10) || 'Disallow: /u/' || chr(10)
           || 'Allow: /u/2'
      else 'User-agent: OtherBot' || chr(10) || 'Disallow: /'
           || chr(10) || chr(10) || 'User-agent: *' || chr(10)
           || 'Disallow: /p/9'
    end as txt
  from generate_series(0, 6) t(i)
),
{_robots_parse_ctes()},
rj as (
  select pf.canon_url, pf.first_id, pf.host, pf.to_crawl, pf.filtered,
    r.is_allow, r.prefix_len,
    (r.prefix is not null
     and substr(pf.tgt, 1, r.prefix_len::int) = r.prefix) as hit
  from pf left join rules2 r using (host)
),
rag as (
  select canon_url, first_id, host, to_crawl, filtered,
    coalesce(max(case when is_allow and hit then prefix_len end), -1)
      as al,
    coalesce(max(case when not is_allow and hit then prefix_len end), -1)
      as dl
  from rj
  group by canon_url, first_id, host, to_crawl, filtered
),
decided as (
  select canon_url, first_id, host from rag
  where to_crawl and not filtered and al >= dl
),
ranked as (
  select canon_url, host, first_id,
    row_number() over (partition by host
                       order by first_id % 64, md5(canon_url), canon_url)
      as pick_rank
  from decided
)
select canon_url, host, first_id, pick_rank::bigint as pick_rank
from ranked where pick_rank <= 10
""".replace("{asset_re}", _ASSET_EXT_RE))
def q88_frontier_politeness(spark, sf_dir):
    """The full politeness-gated frontier — the crawl-side capstone
    (the curated-corpus discipline applied to scheduling): q80's
    seen-set delta → pre-fetch URL quality gate (q87 family) →
    robots.txt longest-match admission (q86 family) → per-host
    politeness cap (q83 family). One composed plan: the prefilter is
    pure Column work, robots is a broadcast join + partial agg, and
    only the surviving urls reach the sharded host-cap rank."""
    from ai_pdf_extraction_spark.operators.robots import (
        parse_robots,
        robots_filter,
    )
    from ai_pdf_extraction_spark.operators.urls import (
        frontier_host_cap,
        url_prefilter,
    )

    # the frontier fans out into four legs (prefilter flags, robots
    # narrow + join-back, host-cap projection): persist it or every
    # leg re-executes the q80 plan — whose synthesized canon
    # expressions are codegen-heavy — once per reference
    fr = persist("q88.frontier", q80_url_frontier_delta(spark, sf_dir))
    pf = url_prefilter(
        fr,
        url_col="canon_url",
        blocklist=["host5.example.com"],
        max_len=32,
        # 3/5 instead of the 1/2 default: the q80 /u/<id> family is
        # numeric by construction -- at 1/2 the gate would blank the
        # whole frontier and the robots/cap legs would go vacuous
        digit_limit=(3, 5),
    )
    robots = spark.range(7).select(
        F.concat(
            F.lit("host"), F.col("id").cast("string"), F.lit(".example.com")
        ).alias("host"),
        F.when(
            F.col("id") % 2 == 0,
            F.lit("User-agent: *\nDisallow: /u/\nAllow: /u/2"),
        )
        .otherwise(
            F.lit(
                "User-agent: OtherBot\nDisallow: /\n\n"
                "User-agent: *\nDisallow: /p/9"
            )
        )
        .alias("robots_txt"),
    )
    rb = robots_filter(pf, parse_robots(robots), url_col="canon_url")
    decided = rb.withColumn(
        "to_crawl",
        F.col("to_crawl") & F.col("keep") & F.col("robots_allowed"),
    )
    return frontier_host_cap(decided, per_host=10)


def _robots_group_ctes() -> str:
    """Oracle CTE front half from ``robots(host, txt)`` to ``grouped``
    lines + ``star`` groups — the DuckDB twin of
    ``operators/robots._star_grouped_lines`` (keep in lockstep).
    Shared by the parse-rules tail (q86/q88) and the crawl-delay tail
    (q92)."""
    return """lines0 as (
  select host, unnest(string_split(txt, chr(10))) as raw,
    generate_subscripts(string_split(txt, chr(10)), 1) as pos
  from robots
),
rlines as (
  -- strip spaces/tabs/CR both sides (operators/robots._strip): CRLF
  -- bodies must parse identically to LF
  select host, pos,
    regexp_replace(regexp_replace(raw, '#.*$', ''),
                   '^[ \t\r]+|[ \t\r]+$', '', 'g') as l
  from lines0
),
marked as (
  select host, pos, l,
    regexp_matches(l, '(?i)^user-agent[ \t]*:') as is_ua,
    coalesce(lag(regexp_matches(l, '(?i)^user-agent[ \t]*:'))
               over (partition by host order by pos), false) as prev_ua
  from rlines
),
grouped as (
  select host, pos, l, is_ua,
    sum(case when is_ua and not prev_ua then 1 else 0 end)
      over (partition by host order by pos
            rows between unbounded preceding and current row) as grp
  from marked
),
star as (
  select distinct host, grp from grouped
  where is_ua
    and regexp_replace(regexp_extract(l, '(?i)^user-agent[ \t]*:([^\r\n]*)', 1),
                       '^[ \t\r]+|[ \t\r]+$', '', 'g') = '*'
)"""


def _robots_parse_ctes() -> str:
    """Group front half + the Allow/Disallow rule tail ending in
    ``rules2(host, prefix, is_allow, prefix_len)`` — the DuckDB twin
    of ``operators/robots.parse_robots`` (q86/q88). The oracle
    synthesizes ONE body per host, where grouping by host alone is
    equivalent to the operator's (host, body) grouping; the final
    distinct mirrors parse_robots' multi-body rule union."""
    return _robots_group_ctes() + """,
rrules as (
  select g.host,
    not regexp_matches(g.l, '(?i)^disallow') as is_allow,
    regexp_replace(regexp_extract(g.l, '(?i)^(dis)?allow[ \t]*:([^\r\n]*)', 2),
                   '^[ \t\r]+|[ \t\r]+$', '', 'g') as prefix
  from grouped g join star s using (host, grp)
  where regexp_matches(g.l, '(?i)^(dis)?allow[ \t]*:') and g.grp > 0
),
rules2 as (
  select distinct host, prefix, is_allow,
    length(prefix)::bigint as prefix_len
  from rrules where prefix != ''
)"""


def _q84_graph_ctes() -> str:
    """q84/q85 oracle prefix: the synthesized link relation collapsed
    to the weighted host graph + out-weights (keep in lockstep with
    ``_q84_links`` / ``operators.graphs.host_edges``)."""
    return """links as (
  select 'host' || (event_id % 13)::varchar || '.example.com' as src,
         'host' || (case when event_id % 2 = 0
                      then (event_id * 7 + 3) % 13
                      else event_id % 3 end)::varchar || '.example.com'
           as dst
  from events
),
edges as (
  select src, dst, count(*)::bigint as weight
  from links where src <> dst group by src, dst
)"""


def _q84_pagerank_ctes(
    iterations: int = 3, graph_ctes: str | None = None
) -> str:
    """Chained-CTE integer PageRank, one (contribs, ranks) CTE pair
    per iteration, ending in ``r{iterations}(host, r)`` — the exact
    semantics of ``operators.graphs.pagerank`` (DuckDB ``//`` ==
    Spark ``div`` on the non-negative int64s involved). Shared by the
    q84 contract and the q91 priority-frontier oracle;
    ``graph_ctes`` (any chain ending in ``edges(src, dst, weight)``)
    lets q103 feed the EXTRACTED host graph through the same rank
    algebra."""
    parts = [
        graph_ctes if graph_ctes is not None else _q84_graph_ctes(),
        """outw as (select src, sum(weight) as wout from edges group by src),
nodes as (select src as host from edges union select dst from edges),
r0 as (select host, 1000000::bigint as r from nodes)""",
    ]
    for i in range(1, iterations + 1):
        parts.append(f"""c{i} as (
  select e.dst as host,
    sum((r.r * 85 * e.weight) // (100 * o.wout)) as c
  from edges e join outw o using (src) join r{i - 1} r on r.host = e.src
  group by e.dst
),
r{i} as (
  select n.host, (150000 + coalesce(c.c, 0))::bigint as r
  from nodes n left join c{i} c using (host)
)""")
    return ",\n".join(parts)


def _q80_frontier_ctes() -> str:
    """The q80 oracle as reusable CTE text ending in ``fr(canon_url,
    first_id, n_discovered, in_seen, to_crawl)`` — shared by the q80
    contract and the q83 host-cap oracle."""
    return f"""raw as (
  select event_id, {_Q80_RAW_URL_SQL} as raw_url from events
), {_URL_CANON_CHAIN_SQL},
canon as (
  select event_id, {_URL_CANON_FINAL_SQL} as canon_url from s5
),
seen as (select distinct canon_url from canon where event_id % 4 != 0),
batch as (select event_id, canon_url from canon where event_id % 4 = 0),
grp as (
  select canon_url, min(event_id) as first_id, count(*) as n_discovered
  from batch group by canon_url
),
fr as (
  select g.canon_url, g.first_id, g.n_discovered,
    (s.canon_url is not null) as in_seen,
    (s.canon_url is null) as to_crawl
  from grp g left join seen s using (canon_url)
)"""


def _cluster_sample_sql(centroids: list, per_cluster: int) -> str:
    """q81 oracle: same centroid literals, first-match argmin, then a
    per-cluster row_number in the operator's deterministic global
    order (shard = id % 64, md5 of the decimal id, id) — DuckDB runs
    the single-window form; the Spark plan's two-phase sharded rank
    must equal it exactly."""
    dlist = _d2_dlist_sql(centroids)
    return f"""
with darr as (
  select vec_id, [{dlist}] as dl from embeddings
),
assign as (
  select vec_id, (list_position(dl, list_min(dl)) - 1)::int as cluster
  from darr
),
ranked as (
  select vec_id, cluster,
    row_number() over (partition by cluster
                       order by vec_id % 64, md5(vec_id::varchar), vec_id)
      as pick_rank,
    count(*) over (partition by cluster) as cluster_size
  from assign
)
select vec_id, cluster, pick_rank::bigint as pick_rank,
       cluster_size::bigint as cluster_size
from ranked where pick_rank <= {per_cluster}
"""


def _q81_oracle_sql() -> str:
    """Degrades per-query like _q26_oracle_sql if training fails."""
    try:
        return _cluster_sample_sql(
            _ivf_centroids(
                os.environ.get("SPARK_GRAFT_CONTRACT_SF", "/root/testdata/sf0.01")
            ),
            per_cluster=40,
        )
    except Exception:
        return (
            "select * from read_parquet("
            "'/nonexistent/q81_ivf_centroid_training_failed')"
        )


@contract(_q81_oracle_sql)
def q81_cluster_balanced_sample(spark, sf_dir):
    """Semantic cluster-balanced sampling: the trained IVF coarse
    quantizer doubles as a domain clusterer (SemDeDup-style), and each
    embedding-space domain is capped at 40 docs in a deterministic
    (shard, md5, id) order — two-phase sharded rank, no per-cluster
    funnel."""
    from ai_pdf_extraction_spark.operators.scrub import (
        cluster_balanced_sample,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return cluster_balanced_sample(
        emb, _ivf_centroids(sf_dir), per_cluster=40
    )


@contract(lambda: """
select lang, source, grouping(lang, source)::bigint as gid,
  count(*) as n_docs, sum(n_chars)::bigint as total_chars,
  round(avg(n_chars), 2) as avg_chars
from documents group by cube(lang, source)
""")
def q82_corpus_profile(spark, sf_dir):
    """One-scan dataset-card profile: CUBE(lang, source) — per-cell,
    both marginals, and the corpus total in a single partial-agg pass
    (the naive form is 2^dims scans). gid is the shared Spark/DuckDB
    grouping bitmask."""
    from ai_pdf_extraction_spark.plans.profiling import corpus_profile

    return corpus_profile(_t(spark, sf_dir, "documents"))


@contract(lambda: r"""
with raw as (
  select event_id,
    case (event_id % 23)
""" + "".join(
    f"      when {i} then '{u}'\n" for i, u in enumerate(_URL_SAMPLES)
) + r"""      else
    'HTTPS://Src' || (event_id % 20) || '.Example.COM:443/Path//' || event_id ||
    (case when event_id % 3 = 0 then '/?utm_source=x&q=1'
          when event_id % 3 = 1 then '/#frag' else '/' end)
    end as raw_url
  from events
), """ + _URL_CANON_CHAIN_SQL + f"""
select event_id, raw_url,
  {_URL_CANON_FINAL_SQL} as canonical_url
from s5
""")
def q37_url_canonicalize(spark, sf_dir):
    """URL canonicalization (crawl-dedup key normalization): messy
    urls deterministically synthesized from events rows — plus the
    adversarial literal shapes above every 23rd row — canonicalized
    with the same regex pipeline in both engines."""
    e = _t(spark, sf_dir, "events")
    messy = F.concat(
        F.lit("HTTPS://Src"),
        (F.col("event_id") % 20).cast("string"),
        F.lit(".Example.COM:443/Path//"),
        F.col("event_id").cast("string"),
        F.when(F.col("event_id") % 3 == 0, "/?utm_source=x&q=1")
        .when(F.col("event_id") % 3 == 1, "/#frag")
        .otherwise("/"),
    )
    m = F.col("event_id") % 23
    for idx, u in enumerate(_URL_SAMPLES):
        messy = F.when(m == idx, F.lit(u)).otherwise(messy)
    # the STAGED canonicalizer (linear plan; byte-identical to the
    # Column form): q37 is the contract that pins both forms against
    # the one DuckDB chain
    from ai_pdf_extraction_spark.operators.urls import with_canonical_url

    return with_canonical_url(
        e.select("event_id", messy.alias("raw_url")),
        "raw_url",
        out="canonical_url",
    ).select("event_id", "raw_url", "canonical_url")


def _q64_oracle_sql() -> str:
    """q64 oracle: the q24 all-pairs cosine restricted to same
    sign-LSH bucket; cosine/rounding shared via ``_COS_EXPR``."""
    bucket = _lsh_bucket_duck()
    return f"""
with bucketed as (
  select vec_id, embedding, {bucket} as bucket from embeddings
)
select * from (
  select a.vec_id as id_a, b.vec_id as id_b,
    {_COS_EXPR.format(r=4)} as cos
  from bucketed a join bucketed b
    on a.vec_id < b.vec_id and a.bucket = b.bucket
) where cos >= 0.45
"""


@contract(_q64_oracle_sql)
def q64_embedding_near_dup_lsh(spark, sf_dir):
    """Sign-LSH-bucketed embedding near-dup pairs — the SCALE TWIN of
    q24 (whose all-pairs plan is the flagged-weak-by-design baseline):
    the quadratic search runs only within hyperplane-sign buckets, so
    the composition q24's docstring mandates at 10^12 docs is now an
    operator with its own oracle (same plane literals, same round-4
    half-away cosine, same threshold — the result is exactly q24's
    pair set restricted to same-bucket pairs)."""
    _ensure_shipped(spark)
    from ai_pdf_extraction_spark.operators.dedup import (
        embedding_near_dup_pairs_lsh,
    )

    return embedding_near_dup_pairs_lsh(
        _t(spark, sf_dir, "embeddings"), threshold=0.45
    )


# Incremental-dedup split: the contract tables have no cross-batch
# duplicates, so the "new crawl" batch is synthesized deterministically
# from the documents table itself — old = doc_id % 4 != 0, new =
# doc_id % 4 == 0 PLUS re-idded copies (+1e9, collision-free at any sf)
# of every old doc with doc_id % 10 == 1, planting exact cross-batch
# duplicate groups. Both engines build the same split (SQL CTE below).
_DELTA_ID_OFFSET = 1_000_000_000


def _delta_split(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    old = docs.filter(F.col("doc_id") % 4 != 0).select("doc_id", "text")
    planted = old.filter(F.col("doc_id") % 10 == 1).select(
        (F.col("doc_id") + F.lit(_DELTA_ID_OFFSET)).alias("doc_id"), "text"
    )
    new = (
        docs.filter(F.col("doc_id") % 4 == 0)
        .select("doc_id", "text")
        .unionByName(planted)
    )
    return old, new


_DELTA_SPLIT_CTE = """
old as (select doc_id, text from documents where doc_id % 4 != 0),
new as (
  select doc_id, text from documents where doc_id % 4 = 0
  union all
  select doc_id + 1000000000 as doc_id, text
  from (select * from old where doc_id % 10 = 1)
)"""


@contract(lambda: f"""
with {_DELTA_SPLIT_CTE},
fpo as (select doc_id, coalesce({_FINGERPRINT_EXPR}, 'null-text') as fp from old),
fpn as (select doc_id, coalesce({_FINGERPRINT_EXPR}, 'null-text') as fp from new),
groups as (
  select fp, min(doc_id) as canonical_id, count(*) as group_size
  from (select * from fpo union all select * from fpn) group by fp
),
idx as (select distinct fp from fpo)
select f.doc_id, g.canonical_id, g.group_size,
       f.doc_id != g.canonical_id as is_dup,
       exists (select 1 from idx where idx.fp = f.fp) as in_index
from fpn f join groups g using (fp)
""")
def q66_exact_dedup_delta(spark, sf_dir):
    """Incremental exact dedup: the NEW batch against an at-rest
    fingerprint index built over the OLD corpus (the reference's
    ingest-time hash-vs-DB duplicate rejection, routers/batches.py:381,
    at corpus scale). The oracle checks BATCH EQUIVALENCE — the delta
    must equal exact dedup over old ∪ new restricted to new ids, with
    in_index = the fingerprint was already stored."""
    from ai_pdf_extraction_spark.operators.dedup_index import (
        exact_dedup_delta,
        index_fingerprints,
    )

    old, new = _delta_split(_t(spark, sf_dir, "documents"))
    return exact_dedup_delta(new, index_fingerprints(old))


# Span-dedup planting: the synthetic corpus texts are pairwise unique,
# so cross-doc duplicated SPANS are planted the q54 way — a shared
# 10-word license header on every doc and a doc_id%5-templated 9-word
# footer. The first doc to carry each gram keeps it; every other doc
# loses the span but keeps its unique body (byte-identical
# reconstruction is what the oracle hashes).
_SPAN_HEADER = (
    "Standard license header granting use copy and modify rights globally"
)
_SPAN_FOOTER = "all rights reserved by template number"


def _span_docs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.concat(
            F.lit(_SPAN_HEADER + " "),
            F.col("text"),
            F.lit(" " + _SPAN_FOOTER + " "),
            (F.col("doc_id") % 5).cast("string"),
            F.lit(" closing words"),
        ).alias("text"),
    )


_SPAN_DOCS_CTE = f"""
docs2 as (
  select doc_id,
         '{_SPAN_HEADER} ' || text || ' {_SPAN_FOOTER} ' ||
         (doc_id % 5) || ' closing words' as text
  from documents
)"""

# q73 planting: per-TEMPLATE footer with the template digit woven into
# EVERY 3-word window — the contamination leg probes word TRIGRAMS, so
# any template-independent trigram in a shared footer would flag every
# doc against the %50 benchmark split and empty the capstone (a
# globally-shared header did exactly that — caught by the 0-row probe).
# With the interleave, only same-template docs share footer grams:
# template-0 docs are contaminated (bench is all template 0), the rest
# survive, and span dedup fires on the 15-word footer (8 shared
# 8-gram windows) within each surviving template group.
_Q73_FOOTER_WORDS = (
    "rights", "reserved", "template", "legal", "notice", "clause",
    "terms", "apply",
)


def _q73_docs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    tpl = (F.col("doc_id") % 5).cast("string")
    parts: list = [F.col("text")]
    for i, w in enumerate(_Q73_FOOTER_WORDS):
        parts.append(F.lit(f" {w}"))
        if i < len(_Q73_FOOTER_WORDS) - 1:
            parts.append(F.lit(" "))
            parts.append(tpl)
    return d.select(
        "doc_id",
        "lang",  # the capstone's quality leg needs it
        F.concat(*parts).alias("text"),
    )


def _q73_docs_cte() -> str:
    pieces = []
    for i, w in enumerate(_Q73_FOOTER_WORDS):
        pieces.append(f"' {w}'")
        if i < len(_Q73_FOOTER_WORDS) - 1:
            pieces.append("' '")
            pieces.append("(doc_id % 5)")
    expr = "text || " + " || ".join(pieces)
    return f"""
docs2 as (
  select doc_id, lang, {expr} as text
  from documents
)"""


@contract(lambda: _span_sql(_SPAN_DEDUP_MARKED))
def q67_span_dedup(spark, sf_dir):
    """Substring-level (span) dedup — the Lee et al. (2107.06499)
    duplicated-substring family at word-gram granularity: every
    stride-1 8-word gram that is not the globally-first occurrence of
    its hash marks its span removed; output is the byte-identical
    surviving text (single-space joined). The oracle recomputes the
    identical rule in DuckDB list algebra."""
    from ai_pdf_extraction_spark.operators.span_dedup import span_dedup

    return span_dedup(_span_docs(spark, sf_dir), k=8)


_SPAN_DECON_MARKED = """
bench as (select distinct g from occ where doc_id % 50 = 0),
marked as (select doc_id, start from occ where g in (select g from bench))"""


@contract(lambda: _span_sql(_SPAN_DECON_MARKED))
def q70_span_decontaminate(spark, sf_dir):
    """Span-level benchmark decontamination: docs sharing an 8-word
    gram with the benchmark set (every 50th doc, the q55 split) get
    the span EXCISED rather than the whole doc dropped —
    contamination_flags' surgical sibling. Benchmark grams broadcast;
    the doc side is a map-side semi probe."""
    from ai_pdf_extraction_spark.operators.span_dedup import span_decontaminate

    d = _span_docs(spark, sf_dir)
    bench = d.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    return span_decontaminate(d, bench, k=8)


def _q68_golden_path() -> str:
    """Golden parquet for the exact-BPE oracle: DuckDB has no merge
    loop, so the oracle is the INDEPENDENT naive twin
    (``oracle/bpe_naive.py`` — one-leftmost-merge-at-a-time, a
    different strategy from the kernel's all-occurrences pass) run
    single-process over the contract documents table. Cache key covers
    kernel version, twin version, the merge-table digest, AND the
    source table's (mtime_ns, size) digest — a retrained table or
    regenerated parquet can never compare against a stale golden."""
    from ai_pdf_extraction_spark.kernels.bpe import BPE_VERSION, merges_digest
    from ai_pdf_extraction_spark.oracle.bpe_naive import (
        TWIN_VERSION,
        write_bpe_golden,
    )

    return _sf_documents_golden(
        f"/tmp/spark_graft_bpe_golden_k{BPE_VERSION}_t{TWIN_VERSION}",
        f"|{merges_digest()}",
        write_bpe_golden,
    )


@contract(lambda: f"""
select doc_id, n_tokens_bpe from read_parquet('{_q68_golden_path()}')
""")
def q68_bpe_token_counts(spark, sf_dir):
    """EXACT merge-table BPE token counts (repo-trained table, public
    Sennrich algorithm) — upgrading the q30 regex proxy to real token
    prices. Oracle: golden parquet from the independent naive twin."""
    _ensure_shipped(spark)
    from ai_pdf_extraction_spark.operators.text_analysis import (
        token_count_bpe_exact,
    )

    d = ensure_parallel(_t(spark, sf_dir, "documents"), "doc_id")
    return d.select(
        "doc_id", token_count_bpe_exact("text").alias("n_tokens_bpe")
    )


@contract(lambda: f"""
with {_SCORED_CTE},
bpe as (select doc_id, n_tokens_bpe
        from read_parquet('{_q68_golden_path()}')),
j as (select s.doc_id, s.lang, s.quality, b.n_tokens_bpe as n_tokens
      from scored s join bpe b using (doc_id)),
c as (
  select doc_id, lang, quality, n_tokens,
    (sum(n_tokens) over (partition by lang order by quality desc, doc_id
                         rows unbounded preceding))::bigint as cum_tokens
  from j
)
select doc_id, lang, quality, n_tokens, cum_tokens from c
where cum_tokens <= 3000
""")
def q72_token_budget_bpe(spark, sf_dir):
    """q44's token-budget selection twinned to EXACT BPE counts — the
    budget now prices documents in real tokens (a long-word doc costs
    more than its whitespace count says), which is what a production
    data-mixture job spends against."""
    _ensure_shipped(spark)
    from ai_pdf_extraction_spark.operators.scrub import token_budget_selection
    from ai_pdf_extraction_spark.operators.text_analysis import (
        quality_score,
        token_count_bpe_exact,
    )

    d = ensure_parallel(_t(spark, sf_dir, "documents"), "doc_id")
    scored = d.select(
        "doc_id",
        "lang",
        quality_score("text").alias("quality"),
        token_count_bpe_exact("text").alias("n_tokens"),
    )
    return token_budget_selection(scored, budget_per_stratum=3000)


# q69 sample texts: 40 deterministic labeled snippets (8 langs × 5)
# from the LID training corpus GENERATOR with a held-out seed — never
# seen in training (tools/train_lid.py uses seed 123; accuracy on this
# seed is what the pytest pins against the trigram baseline).
def _lid_samples() -> list[str]:
    from ai_pdf_extraction_spark.corpus.langtext import generate_lang_docs

    return [text for _i, _lang, text in generate_lang_docs(40, seed=777)]


def _q69_golden_path() -> str:
    """Golden parquet for the trained-LID oracle: the naive scorer
    twin (``oracle/lid_naive.py`` — re-derives hashing and argmax from
    the model-file contract) over the q69 sample substitution. Cache
    key covers kernel + twin versions, the model digest, and the
    source table digest."""
    from ai_pdf_extraction_spark.kernels.lid import LID_VERSION, model_digest
    from ai_pdf_extraction_spark.oracle.lid_naive import (
        TWIN_VERSION,
        write_lid_golden,
    )

    return _sf_documents_golden(
        f"/tmp/spark_graft_lid_golden_k{LID_VERSION}_t{TWIN_VERSION}",
        f"|{model_digest()}",
        lambda src, out: write_lid_golden(src, _lid_samples(), out),
    )


@contract(lambda: f"""
select doc_id, lang_pred from read_parquet('{_q69_golden_path()}')
""")
def q69_lang_trained(spark, sf_dir):
    """TRAINED hashed-ngram language ID (fastText-style linear model,
    repo-trained integer-quantized weights) — the production-model
    slot the heuristic detectors stubbed. Docs cycle through 40
    held-out-seed snippets from the labeled generator (the q52/q59
    substitution rule), every 41st keeps its real text."""
    _ensure_shipped(spark)
    from ai_pdf_extraction_spark.operators.text_analysis import (
        lang_detect_trained,
    )

    d = ensure_parallel(_t(spark, sf_dir, "documents"), "doc_id")
    samples = _lid_samples()
    m = F.col("doc_id") % (len(samples) + 1)
    sample = F.col("text")
    for idx, snippet in enumerate(samples):
        sample = F.when(m == idx, F.lit(snippet)).otherwise(sample)
    return d.select("doc_id", sample.alias("sample_text")).select(
        "doc_id", lang_detect_trained(F.col("sample_text")).alias("lang_pred")
    )


def _lm_model_parquets() -> tuple[str, str, dict]:
    """The committed bigram-LM model (kernels/lm_model.json) exported
    as two tiny parquet relations for the DuckDB oracle — q76's oracle
    is fully RELATIONAL (tokenize → pair → model join → sum), a third
    independent evaluation of the same committed integers (the Spark
    plan and the naive Python twin are the other two). Cache key: the
    model file's bytes digest."""
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ai_pdf_extraction_spark.operators.lm import LM_VERSION, load_lm_payload

    payload = load_lm_payload()
    digest = hashlib.md5(
        json.dumps(payload, sort_keys=True).encode()
    ).hexdigest()[:12]
    base = f"/tmp/spark_graft_lm_v{LM_VERSION}_{digest}"
    bi, back = payload["bigrams"], payload["backoff"]
    bi_path = _build_once(
        base + "_bigrams.parquet",
        lambda tmp: pq.write_table(
            pa.table(
                {
                    "v": [r[0] for r in bi],
                    "w": [r[1] for r in bi],
                    "q": [int(r[2]) for r in bi],
                }
            ),
            tmp,
        ),
    )
    back_path = _build_once(
        base + "_backoff.parquet",
        lambda tmp: pq.write_table(
            pa.table({"w": [r[0] for r in back], "q": [int(r[1]) for r in back]}),
            tmp,
        ),
    )
    return bi_path, back_path, payload


def _q76_oracle_sql() -> str:
    """q76 oracle: the bigram-LM scoring pipeline in pure DuckDB SQL
    over the committed model exported to parquet — tokenization
    (ascii runs, per-token lower), predecessor pairing (list_zip with
    a '<s>' prepend), two model joins, one group-by, and the same
    no-division integer bucket comparison as the Spark plan."""
    ctes, cut_head, cut_mid = _lm_agg_ctes("documents")
    return f"""
with {ctes}
select d.doc_id,
  coalesce(a.n_tokens, 0)::bigint as n_tokens,
  coalesce(a.lm_q_sum, 0)::bigint as lm_q_sum,
  case when a.doc_id is null then 'empty'
       when a.lm_q_sum >= {cut_head} * a.n_tokens then 'head'
       when a.lm_q_sum >= {cut_mid} * a.n_tokens then 'middle'
       else 'tail' end as ppl_bucket
from documents d left join lm_agg a using (doc_id)
"""


@contract(_q76_oracle_sql)
def q76_lm_perplexity(spark, sf_dir):
    """CCNet-style LM quality bucketing (Wenzek et al. 1911.00359):
    every doc scored by the repo-trained integer-quantized bigram LM
    and bucketed head/middle/tail at the reference distribution's
    terciles — the canonical crawl-corpus quality filter. Pure
    relational plan: tokenize → predecessor-pair explode → two
    broadcast model joins → partial-agg groupBy; bucket comparison is
    integer cross-multiplication (sum ≥ cut·n), no division to drift
    between engines."""
    _ensure_shipped(spark)
    from ai_pdf_extraction_spark.operators.lm import lm_perplexity

    return lm_perplexity(_t(spark, sf_dir, "documents"))


# q77's mixture config: deliberately skewed integer parts (src0 is
# upweighted far past its corpus size so the epoch-repeat path runs;
# src19 is excluded so the drop path runs) over a budget close to the
# corpus token volume. Integer parts, not floats — targets are exact
# `budget*w div sum(w)` in every engine.
MIXTURE_WEIGHTS = {
    "src0": 40,
    "src1": 10,
    "src2": 10,
    "src3": 5,
    "src4": 5,
    "src5": 30,
}
MIXTURE_BUDGET = 12_000
MIXTURE_MAX_EPOCHS = 3


def _q77_oracle_sql() -> str:
    """q77 oracle: the full mixture pipeline relationally in DuckDB —
    q16 whitespace token counts, integer targets embedded from the
    SAME driver-side `budget*w div sum(w)` arithmetic the operator
    uses, ceil-division epoch counts, epoch-keyed md5 permutation, and
    one per-source running-sum window whose ORDER (epoch, shard, hash,
    id) equals the Spark plan's sharded two-phase global order."""
    sum_w = sum(MIXTURE_WEIGHTS.values())
    values = ", ".join(
        f"('{s}', {(MIXTURE_BUDGET * w) // sum_w})"
        for s, w in sorted(MIXTURE_WEIGHTS.items())
    )
    return f"""
with d as (
  select doc_id, source,
    case when length(trim(text)) = 0 then 0
         else len(regexp_split_to_array(trim(text), '\\s+')) end as n_tokens
  from documents
),
d2 as (
  select * from d
  where n_tokens > 0 and source in (select src from (values {values}) t(src, tgt))
),
ep as (
  select a.source, t.tgt as target_q,
         least({MIXTURE_MAX_EPOCHS}, (t.tgt + a.avail - 1) // a.avail)::bigint
           as n_epochs
  from (select source, sum(n_tokens) as avail from d2 group by source) a
  join (values {values}) t(src, tgt) on t.src = a.source
  where (t.tgt + a.avail - 1) // a.avail > 0
),
rep as (
  select d2.doc_id, d2.source, d2.n_tokens, ep.target_q,
         unnest(generate_series(0::bigint, ep.n_epochs - 1)) as epoch
  from d2 join ep using (source)
),
c as (
  select *,
    sum(n_tokens) over (
      partition by source
      order by epoch, doc_id % 64,
               md5(cast(epoch as varchar) || ':' || cast(doc_id as varchar)),
               doc_id
      rows between unbounded preceding and current row) as cum
  from rep
)
select doc_id, source, epoch, n_tokens::bigint as n_tokens,
       cum::bigint as cum_source_tokens
from c where cum <= target_q
"""


@contract(_q77_oracle_sql)
def q77_mixture_sample(spark, sf_dir):
    """Source-weighted data-mixture builder (The Pile 2101.00027 §2.1
    / LLaMA 2302.13971 tbl-1): every source gets `budget*w div sum(w)`
    tokens; undersized sources repeat up to max_epochs whole copies
    with an epoch-keyed md5 re-permutation; the running-sum cut uses
    the two-phase sharded window (no per-source funnel). Token counts
    are the q16 whitespace rule."""
    _ensure_shipped(spark)
    from ai_pdf_extraction_spark.operators.scrub import mixture_sample
    from ai_pdf_extraction_spark.operators.text_analysis import token_count

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", token_count("text").alias("n_tokens")
    )
    return mixture_sample(
        docs,
        weights=MIXTURE_WEIGHTS,
        total_budget=MIXTURE_BUDGET,
        max_epochs=MIXTURE_MAX_EPOCHS,
    )


@contract(lambda: r"""
with words as (
  select unnest(regexp_extract_all(text,
                '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+')) as word
  from documents where text is not null
),
freqs as (select word, count(*) as freq from words group by word),
pairs as (
  select substr(word, i, 1) as left_sym, substr(word, i + 1, 1) as right_sym,
         freq
  from freqs, unnest(generate_series(1::bigint, length(word) - 1)) g(i)
),
counted as (
  select left_sym, right_sym, sum(freq)::bigint as pair_count
  from pairs group by 1, 2 having sum(freq) >= 2
)
select left_sym, right_sym, pair_count,
  row_number() over (order by pair_count desc, left_sym, right_sym) as rnk
from counted
""")
def q78_bpe_pair_counts(spark, sf_dir):
    """Distributed BPE training, round-0 pair counts (Sennrich
    1508.07909 alg. 1): the corpus collapses to a word-TYPE frequency
    table in one partial-agg pass (the only pass that touches 100 TB),
    then character-pair counts weighted by type frequency rank the
    first merge (highest count, ties → lexicographically smallest).
    Row rnk=1 is the pair `train_bpe` merges first; pairs that occur
    once can never merge and are filtered."""
    _ensure_shipped(spark)
    from ai_pdf_extraction_spark.operators.bpe_train import bpe_pair_counts

    return bpe_pair_counts(_t(spark, sf_dir, "documents"))


def _q75_oracle_sql() -> str:
    """q75 oracle: same-bucket all-pairs cosine over old ∪ new (the
    embedding delta split), restricted to new-touching pairs; bucket
    and cosine expressions shared with the q64/q65 generators."""
    bucket = _lsh_bucket_duck()
    return f"""
with eold as (select vec_id, embedding from embeddings where vec_id % 4 != 0),
enew as (
  select vec_id, embedding from embeddings where vec_id % 4 = 0
  union all
  select vec_id + {_DELTA_ID_OFFSET} as vec_id, embedding
  from (select * from eold where vec_id % 10 = 1)
),
allb as (
  select vec_id, embedding, false as is_new from eold
  union all
  select vec_id, embedding, true as is_new from enew
),
bucketed as (
  select vec_id, embedding, is_new, {bucket} as bucket from allb
)
select * from (
  select a.vec_id as id_a, b.vec_id as id_b,
    {_COS_EXPR.format(r=4)} as cos
  from bucketed a join bucketed b
    on a.vec_id < b.vec_id and a.bucket = b.bucket
  where a.is_new or b.is_new
) where cos >= 0.45
"""


@contract(_q75_oracle_sql)
def q75_embedding_near_dup_delta(spark, sf_dir):
    """Incremental embedding near-dup: the semantic-family delta (the
    q66/q71 split rule applied to embeddings — old = vec_id%4 != 0,
    new = the rest plus re-idded copies of every old %10==1 vector,
    planting exact cross-batch cosine-1.0 pairs). Old vectors in
    untouched buckets never enter the search; old×old pairs are never
    emitted. Oracle = same-bucket all-pairs cosine over old ∪ new
    restricted to new-touching pairs (batch equivalence)."""
    _ensure_shipped(spark)
    from ai_pdf_extraction_spark.operators.dedup import (
        embedding_near_dup_delta,
    )

    emb = _t(spark, sf_dir, "embeddings")
    old = emb.filter(F.col("vec_id") % 4 != 0).select("vec_id", "embedding")
    planted = old.filter(F.col("vec_id") % 10 == 1).select(
        (F.col("vec_id") + F.lit(_DELTA_ID_OFFSET)).alias("vec_id"),
        "embedding",
    )
    new = (
        emb.filter(F.col("vec_id") % 4 == 0)
        .select("vec_id", "embedding")
        .unionByName(planted)
    )
    return embedding_near_dup_delta(new, old, threshold=0.45)


@contract(lambda: f"""
with toks as (
  select doc_id, doc_id % 64 as shard, n_tokens_bpe
  from read_parquet('{_q68_golden_path()}')
),
c as (
  select doc_id, n_tokens_bpe,
         sum(n_tokens_bpe) over (order by shard, doc_id
                                 rows unbounded preceding) as end_offset
  from toks
)
select doc_id, n_tokens_bpe as n_tokens,
       (end_offset - n_tokens_bpe)::bigint as start_offset,
       end_offset::bigint as end_offset,
       ((end_offset - n_tokens_bpe) // 256)::bigint as first_seq,
       (case when n_tokens_bpe > 0 then (end_offset - 1) // 256
             else (end_offset - n_tokens_bpe) // 256 end)::bigint as last_seq,
       (case when n_tokens_bpe > 0
             then (end_offset - 1) // 256
                  - (end_offset - n_tokens_bpe) // 256 + 1
             else 0 end)::bigint as n_seqs
from c
""")
def q74_sequence_pack(spark, sf_dir):
    """Training-sequence packing over EXACT BPE counts: every doc's
    (start, end) offsets and chunk span in the concatenated 256-token
    training-sequence stream — the layout step after tokenization in a
    real pipeline. Global running sum in the two-phase sharded form
    (no single-task window); oracle recomputes from the q68 golden
    counts with one DuckDB window over the same (shard, id) order."""
    _ensure_shipped(spark)
    from ai_pdf_extraction_spark.operators.scrub import sequence_pack
    from ai_pdf_extraction_spark.operators.text_analysis import (
        token_count_bpe_exact,
    )

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", token_count_bpe_exact("text").alias("n_tokens")
    )
    return sequence_pack(toks, seq_len=256)


@contract(lambda: _curate_v4_sql(_FINGERPRINT_EXPR))
def q73_curated_corpus_v4(spark, sf_dir):
    """The v4 capstone: v3 (quality ∧ exact-canonical ∧ ¬LSH-near-dup
    ∧ ¬contaminated ∧ ¬embedding-near-dup + granule stats) with the
    SUBSTRING family composed on top — survivors get duplicated spans
    excised (computed within the surviving set), span_md5 hashing the
    byte-exact remaining text. Runs over the span-planted docs (q67's
    shared header/footer) so the span leg is non-vacuous."""
    _ensure_shipped(spark)
    from ai_pdf_extraction_spark.plans.curate import curated_corpus_v4

    d = _q73_docs(spark, sf_dir)
    bench = d.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    return curated_corpus_v4(
        d,
        bench,
        _t(spark, sf_dir, "embeddings"),
        contamination_n=3,
        cos_threshold=0.45,
        span_k=8,
    )


def _curate_v5_sql(fingerprint_expr: str) -> str:
    """q79 oracle: the v4 template's final select becomes a ``v4``
    CTE, the q76 LM chain (``_lm_agg_ctes`` — literally the same SQL
    text) runs over docs2 restricted to v4 survivors, and the final
    select keeps head/middle only; docs2 is re-rooted on the RAW
    documents (see q79_curated_corpus_v5's vacuity note). Same
    composition as ``plans.curate.curated_corpus_v5``."""
    v4sql = _curate_v4_sql(fingerprint_expr).replace(
        _q73_docs_cte().strip(),
        "docs2 as (\n  select doc_id, lang, text from documents\n)",
    )
    head, sep, tail = v4sql.rpartition("\nselect v3.doc_id")
    assert sep, "v4 template final-select shape changed"
    ctes = head.strip()
    assert ctes.startswith("with ")
    lm_ctes, cut_head, cut_mid = _lm_agg_ctes(
        "(select d2.doc_id, d2.text from docs2 d2 "
        "join v4 on v4.doc_id = d2.doc_id)"
    )
    return f"""
{ctes},
v4 as (select v3.doc_id{tail.rstrip()}),
{lm_ctes}
select v4.*,
  case when a.lm_q_sum >= {cut_head} * a.n_tokens then 'head'
       else 'middle' end as ppl_bucket
from v4 join lm_agg a using (doc_id)
where a.lm_q_sum >= {cut_mid} * a.n_tokens
"""


@contract(lambda: _curate_v5_sql(_FINGERPRINT_EXPR))
def q79_curated_corpus_v5(spark, sf_dir):
    """The v5 capstone: v4 (quality ∧ exact-canonical ∧ ¬LSH-near-dup
    ∧ ¬contaminated ∧ ¬embedding-near-dup ∧ span-deduped) with the
    MODEL-based quality family composed on top — CCNet LM-perplexity
    bucketing drops the tail tercile and survivors carry ppl_bucket
    for downstream mixture weighting. Seven legs, one source scan.

    Runs over the RAW documents, not q73's span-planted variant: the
    injected boilerplate drags every planted doc into 'tail', which
    would make this contract vacuous (0 rows on both engines proves
    nothing). The span leg's non-vacuous check is q73's job; here the
    LM leg must actually split the corpus."""
    _ensure_shipped(spark)
    from ai_pdf_extraction_spark.plans.curate import curated_corpus_v5

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    return curated_corpus_v5(
        d,
        bench,
        _t(spark, sf_dir, "embeddings"),
        contamination_n=3,
        cos_threshold=0.45,
        span_k=8,
    )


def _minhash_delta_sql(k: int = 12, bands: int = 4) -> str:
    """q71 oracle: banded LSH over old ∪ new under the FROZEN universe
    (hot shingles = DF over the OLD corpus only > cap — the index-build
    rule in ``dedup_index.hot_shingles``), candidates restricted to
    pairs touching a new id. Batch equivalence makes this exactly the
    delta's result (pinned independently in ``tests/test_dedup_index``
    for the uncapped case; this oracle covers the frozen-capped one)."""
    r = k // bands
    hashes = ", ".join(f"min(md5('{i}:' || shingle)) as h{i}" for i in range(k))
    band_exprs = ", ".join(
        "md5(" + " || '|' || ".join(f"h{b * r + j}" for j in range(r)) + f") as band{b}"
        for b in range(bands)
    )
    bucket_list = ", ".join(f"'{b}#' || band{b}" for b in range(bands))
    return f"""
with {_DELTA_SPLIT_CTE},
allb as (
  select doc_id, text, false as is_new from old
  union all
  select doc_id, text, true as is_new from new
),
sh_all as (
  select doc_id,
         unnest(list_distinct([array_to_string(words[i:i+2], ' ')
                               for i in range(1, len(words) - 1)])) as shingle
  from (select doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') as words
        from allb)
),
hot as (
  select shingle from sh_all
  join (select doc_id from allb where not is_new) using (doc_id)
  group by shingle having count(*) > {DEFAULT_MAX_SHINGLE_DF}
),
sh as (
  select doc_id, shingle from sh_all
  where shingle not in (select shingle from hot)
),
sig as (select doc_id, {hashes} from sh group by doc_id),
banded as (select doc_id, {band_exprs} from sig),
stacked as (select doc_id, unnest([{bucket_list}]) as bucket from banded),
newids as (select doc_id from allb where is_new),
cand as (
  select distinct a.doc_id as id_a, b.doc_id as id_b
  from stacked a join stacked b using (bucket)
  where a.doc_id < b.doc_id
    and (a.doc_id in (select doc_id from newids)
         or b.doc_id in (select doc_id from newids))
),
sizes as (select doc_id, count(*) as n from sh group by 1),
shared as (
  select sh_a.doc_id as id_a, sh_b.doc_id as id_b, count(*) as shared
  from sh sh_a join sh sh_b using (shingle)
  where sh_a.doc_id < sh_b.doc_id
  group by 1, 2
),
jacc as (
  select id_a, id_b,
         round(shared * 1.0 / (sa.n + sb.n - shared), 4) as jaccard
  from shared
  join sizes sa on sa.doc_id = id_a
  join sizes sb on sb.doc_id = id_b
)
select cand.id_a, cand.id_b, jacc.jaccard
from cand join jacc on cand.id_a = jacc.id_a and cand.id_b = jacc.id_b
where jacc.jaccard >= 0.8
"""


@contract(_minhash_delta_sql)
def q71_minhash_lsh_delta(spark, sf_dir):
    """Incremental MinHash-LSH near-dup: the NEW batch probes an
    at-rest signature index (frozen hot-shingle universe computed over
    the OLD corpus at index-build time); verification touches only
    candidate old docs. Oracle = banded-LSH over old ∪ new under the
    SAME frozen universe, restricted to pairs touching a new id."""
    from ai_pdf_extraction_spark.operators.dedup_index import (
        live_index_relations,
        minhash_lsh_delta,
    )

    old, new = _delta_split(_t(spark, sf_dir, "documents"))
    sigs, hot = live_index_relations(old)
    return minhash_lsh_delta(new, sigs, old, threshold=0.8, hot=hot)


@contract(lambda: """
with bucketed as (
  select vec_id, embedding,
    ((case when list_sum(list_transform(list_zip(embedding, [1.690526, -0.465937, 0.03282, 0.407516, -0.788923, 0.002066, -0.00089, -1.754724, 1.017658, 0.600499, -0.625429, -0.171548, 0.505299, -0.261356, -0.242749, -1.453241, 0.55458, 0.123881, 0.27446, -1.526525, 1.6507, 0.154336, -0.38714, 2.029072, -0.045386, -1.450679, -0.405228, -2.288315, 1.049397, -0.416474, -0.742554, 1.07247, -1.651076, 0.535429, -2.064415, -0.662159, -1.20422, 1.461976, 1.766161, -0.329414, 0.840733, -0.179986, 0.568062, -0.752837, -1.708339, -1.803099, 0.383122, 2.247595, 0.269412, -0.524605, 1.912019, 0.237302, 0.101434, 0.252578, -0.132377, -0.309476, -1.434963, 0.501624, -0.094775, 1.193086, -0.368818, -1.90637, -0.099611, 1.699537]), x -> x[1]::DOUBLE * x[2])) > 0 then 1 else 0 end) + (case when list_sum(list_transform(list_zip(embedding, [-0.383423, -0.889857, -1.193592, -1.050017, -0.300194, -1.179982, 1.497639, -0.282635, 0.108648, 1.43824, 1.503319, -0.212733, 0.331974, 0.735027, -0.192855, -1.778013, 0.654706, 0.894352, 0.415503, -0.923545, -0.196027, -0.59077, -0.299711, 1.296885, 1.52958, 0.669418, 0.548745, 0.676629, -0.012242, -0.075663, -0.673645, -0.055867, 2.259947, 0.869039, -0.342117, -0.471927, -0.86449, 0.37437, 0.391546, -1.443122, 0.486335, -0.569472, 1.426721, 0.156844, 1.71773, -0.458127, -0.287984, 0.299808, 1.055948, 0.565882, -1.233524, 0.182901, 0.022245, -0.429069, -0.648105, 1.747577, -0.390386, -0.845923, 0.637113, 0.130623, -0.075814, 0.781302, 0.488625, 0.36219]), x -> x[1]::DOUBLE * x[2])) > 0 then 2 else 0 end) + (case when list_sum(list_transform(list_zip(embedding, [0.9642, 0.283636, -0.616922, -0.362282, -0.520972, 0.209722, -1.077985, -1.832426, 0.088155, -1.336521, -1.951978, 0.373331, -0.711053, 0.496125, -0.530854, -1.121962, -1.243518, -0.514927, -0.273383, -0.82346, -0.281108, -1.536102, 0.014489, -1.793649, -0.193856, 0.697294, 1.091939, 1.71438, -1.556288, 0.758725, 1.206282, 0.980557, -0.929324, 0.411797, 1.860056, -1.497274, 0.476338, 1.11229, -0.696591, 0.58297, -1.070893, -0.812209, -0.81708, 0.192308, -0.090981, 0.954115, -0.940279, -0.131276, 0.961076, 0.560777, -1.324641, 0.665204, -0.478418, 0.385387, 0.30068, 1.219319, 0.11656, -1.853806, -1.36986, 0.731154, -0.258316, 1.137979, 0.273439, -0.749066]), x -> x[1]::DOUBLE * x[2])) > 0 then 4 else 0 end) + (case when list_sum(list_transform(list_zip(embedding, [1.082407, -0.807398, -2.052636, 2.063796, -1.910749, 0.636413, 0.938852, 0.147066, -1.683397, 1.015015, -1.441544, -1.343629, -0.361668, 0.788505, 0.300114, 0.810768, -0.443644, -0.172183, -1.137137, -0.316865, 0.593128, -0.299828, 0.47546, -0.573274, -0.592392, 0.039169, -0.194882, 0.592385, 0.17829, 1.740346, -0.219495, -0.227253, -1.040131, 0.022778, 0.682829, -0.740296, -0.049672, 0.718557, -0.126909, -0.519137, 0.973093, 0.09702, 0.396565, 1.171393, 1.145316, -0.347204, -0.52543, 0.284309, -0.132788, -1.899861, 1.275362, 0.019361, 0.736378, -1.172917, 1.288204, -0.588263, -0.107667, -1.401425, -0.16695, -0.229804, -0.185361, 0.438505, 0.060346, 0.975783]), x -> x[1]::DOUBLE * x[2])) > 0 then 8 else 0 end) + (case when list_sum(list_transform(list_zip(embedding, [-0.468158, -0.996016, -0.019106, 0.628368, 1.244642, 0.813921, -1.765441, 0.377058, 1.460372, 0.062576, -0.516043, 0.309161, -0.503242, 0.639113, -0.012994, 1.393, 0.499503, -0.723885, 0.604631, 0.936012, -0.568456, -0.425794, -2.305183, 0.903406, -0.587754, -2.122349, -1.768772, -0.22295, 0.76066, -0.089065, 0.471778, -1.1015, -1.341366, 0.885721, 0.492144, -0.030509, 1.282093, -0.95119, -0.420266, 1.026371, 1.837794, 0.008426, 1.679519, -0.602511, 0.32975, -0.173824, -1.588248, 0.257973, 0.93275, -0.148267, -0.070455, 1.392927, -1.249714, -1.497588, -0.654039, -1.196623, 1.346289, 0.309689, -0.864093, -0.614479, 2.861067, -0.61009, -0.762025, 0.304307]), x -> x[1]::DOUBLE * x[2])) > 0 then 16 else 0 end) + (case when list_sum(list_transform(list_zip(embedding, [0.638252, 0.221682, -0.908626, -1.159187, 0.596141, -0.05419, -1.641433, 1.171001, 0.775329, -0.240954, -0.260264, 0.23146, -0.687009, -1.348312, 0.322518, -1.439087, 0.390727, -1.441207, -0.099209, -0.135645, 1.782629, -1.064383, -1.414946, -0.646177, -1.123732, -0.589762, 0.420801, 0.771977, 1.659561, -0.736674, 2.638539, 1.982185, -0.203527, -2.29142, -0.083112, 0.072508, -2.299249, 0.073832, -0.200154, -0.785711, 0.626629, 1.005348, -0.486177, 0.22948, -0.654792, -0.786606, 0.079497, 0.523422, -0.563293, -2.21367, 0.585785, -1.596558, 0.121999, 1.779026, -0.01683, -1.18975, -1.461179, 1.170462, -0.016948, 0.539738, 0.926302, -0.049002, -0.308604, -0.947348]), x -> x[1]::DOUBLE * x[2])) > 0 then 32 else 0 end) + (case when list_sum(list_transform(list_zip(embedding, [-3.082505, -1.518, -0.069594, -0.175262, 0.40356, -0.126687, 0.159358, 0.787799, -0.885045, -0.287158, -1.607213, 0.972893, 0.038418, 0.489822, 1.542483, 1.079546, -0.060001, 0.787685, -1.431704, 0.433909, 0.13891, -1.618269, 1.33732, -0.704077, 0.683229, -0.419935, 0.993543, 1.312262, -0.830049, -1.530399, -0.13141, 0.848917, -0.371312, -0.613524, 0.488282, -2.761517, -0.664716, -1.383796, 0.294814, -0.736249, -1.115168, -0.353831, -1.468408, -0.013124, -0.682372, -0.377419, -0.717138, 0.912263, -0.108854, 0.524512, 0.479785, -0.806151, 0.569973, 0.349108, 0.313649, -0.398693, -0.426844, 0.785552, 2.18196, -0.830127, 0.534448, -0.366253, 0.784857, 0.438313]), x -> x[1]::DOUBLE * x[2])) > 0 then 64 else 0 end) + (case when list_sum(list_transform(list_zip(embedding, [1.060126, -2.794785, -0.601083, -0.988185, -0.107988, -0.723866, -0.640976, 0.68186, 1.901928, -2.823831, -0.31045, 0.312054, 0.004733, -0.345135, -1.353468, -0.942672, 0.724982, 1.075762, 0.096675, -0.836172, 0.095711, -0.24004, 0.545605, 0.118299, -0.62179, 0.190673, -1.179405, 0.820012, 1.182335, -1.178504, 0.421047, -0.991262, 1.071684, 0.904119, -0.230178, 0.994934, -0.431091, -0.64301, -0.56872, -0.140851, -0.323412, 0.154345, -0.615059, 0.764696, 1.020969, -0.495862, -1.427175, 0.723873, 1.138557, -0.163248, -1.286517, 0.266761, 1.524668, -1.876327, 0.477926, -0.313635, -0.855674, 0.4982, -1.29883, 0.296945, 1.313259, 0.176689, -0.876322, -1.779309]), x -> x[1]::DOUBLE * x[2])) > 0 then 128 else 0 end)) as bucket
  from embeddings
), scored as (
  select b.vec_id as query_id, a.vec_id as neighbor_id,
    round(list_sum(list_transform(list_zip(a.embedding, b.embedding),
                                  x -> x[1]::DOUBLE * x[2]::DOUBLE))
      / (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))
       * sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE)))), 6) as cos
  from bucketed a
  join bucketed b on b.vec_id < 5 and a.vec_id != b.vec_id
                  and a.bucket = b.bucket
)
select query_id, neighbor_id, cos, rank from (
  select *, row_number() over (partition by query_id
                               order by cos desc, neighbor_id asc) as rank
  from scored
) where rank <= 5
""")
def q38_lsh_topk(spark, sf_dir):
    """Sign-LSH-bucketed ANN (random hyperplanes, single probe) — the
    LSH twin of the IVF variant, oracle-checked with the identical
    deterministic plane literals."""
    from ai_pdf_extraction_spark.operators.similarity import lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    return lsh_topk(emb, queries_df, k=5)


# q94: per-site boilerplate line removal — line identity is
# the [ \t\r]-stripped form; blank lines never boilerplate;
# reassembly ordered by original position
@contract(lambda: """
with aug as (
  select doc_id, source,
    'NAV ' || source || ' HOME | ABOUT' || chr(10)
      || 'PROMO ' || (doc_id % 97)::varchar || chr(10) || text
      || case when doc_id % 3 != 0
           then chr(10) || 'COPYRIGHT ' || source else '' end as text
  from documents
),
lines as (
  select doc_id, source,
    generate_subscripts(l, 1) as pos, unnest(l) as line
  from (select doc_id, source, string_split(text, chr(10)) as l from aug)
),
t as (
  select doc_id, source, pos, line,
    regexp_replace(line, '^[ \t\r]+|[ \t\r]+$', '', 'g') as lt
  from lines
),
freq as (
  select source, lt, count(distinct doc_id) as line_docs
  from t where lt != '' group by source, lt
),
fl as (
  select t.doc_id, t.source, t.pos, t.line,
    coalesce(f.line_docs >= 5, false) as bp
  from t left join freq f on t.source = f.source and t.lt = f.lt
)
select doc_id, source,
  coalesce(string_agg(case when not bp then line end, chr(10)
                      order by pos), '') as clean_text,
  count(*)::bigint as n_lines,
  sum(bp::int)::bigint as n_removed
from fl group by doc_id, source
""")
def q94_boilerplate_lines(spark, sf_dir):
    """Per-site template-line removal (the CCNet line-dedup family):
    documents are augmented with deterministic site chrome — a nav
    header on every doc, a COPYRIGHT footer on 2/3 of docs (both
    cross the min_docs=5 threshold within a 25-doc source), and a
    rare PROMO line keyed by doc_id%97 that stays under it — then
    lines appearing in ≥5 distinct docs of the same source are
    stripped and the doc reassembled in order. One exploded pass
    feeds both the (source, line) frequency partial-agg and the
    flag join-back; no window."""
    from ai_pdf_extraction_spark.operators.text_analysis import (
        boilerplate_line_removal,
    )

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    aug = d.select(
        "doc_id",
        "source",
        F.concat(
            F.lit("NAV "),
            F.col("source"),
            F.lit(" HOME | ABOUT\nPROMO "),
            (did % 97).cast("string"),
            F.lit("\n"),
            F.col("text"),
            F.when(
                did % 3 != 0,
                F.concat(F.lit("\nCOPYRIGHT "), F.col("source")),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return boilerplate_line_removal(aug, min_docs=5)


# q95: revisit collapse — latest capture per url + changed-
# vs-previous digest; (ts desc, id desc) total order
@contract(lambda: """
with caps as (
  select event_id, ts,
    'http://h' || (k % 13)::varchar || '.example.com/p/' || k::varchar
      as canon_url,
    md5('c' || (event_id % 3)::varchar || '-' || k::varchar) as digest
  from (
    select event_id, ts,
      case when event_id % 11 = 0 then event_id + 100000
           else event_id % 997 end as k
    from events
  )
),
w as (
  select canon_url, ts, event_id, digest,
    row_number() over (partition by canon_url
                       order by ts desc, event_id desc) as rn,
    lead(digest) over (partition by canon_url
                       order by ts desc, event_id desc) as prev_digest,
    count(*) over (partition by canon_url) as n_captures
  from caps
)
select canon_url, n_captures::bigint as n_captures, ts as latest_ts,
  event_id as latest_id, digest, prev_digest,
  (prev_digest is null or digest != prev_digest) as changed
from w where rn = 1
""")
def q95_capture_delta(spark, sf_dir):
    """Revisit collapse over a synthesized capture log: urls keyed by
    event_id%997 accrue ~10 captures each (ids ≡0 mod 11 get a unique
    url — the first-capture leg), content digests cycle over 3
    versions, and each url keeps its LATEST capture plus whether the
    content changed vs the capture before it (ts desc, id desc total
    order). One hash shuffle on the url key; rank-2 semantics via the
    key-partitioned window."""
    from ai_pdf_extraction_spark.operators.urls import capture_delta

    # NO fan-out here: the only heavy work (the rank-2 window) runs
    # after its own url-key shuffle; a rebalance shuffle in front
    # measured +0.7 s of pure cost at sf1.0
    e = _t(spark, sf_dir, "events")
    eid = F.col("event_id")
    k = F.when(eid % 11 == 0, eid + 100000).otherwise(eid % 997)
    caps = e.select(
        "event_id",
        "ts",
        F.concat(
            F.lit("http://h"),
            (k % 13).cast("string"),
            F.lit(".example.com/p/"),
            k.cast("string"),
        ).alias("canon_url"),
        F.md5(
            F.concat(
                F.lit("c"),
                (eid % 3).cast("string"),
                F.lit("-"),
                k.cast("string"),
            )
        ).alias("digest"),
    )
    return capture_delta(caps)


# q96: host-reputation gate — scaled-int mean quality per
# source (exact at any parallelism), threshold 0.67
@contract(lambda: f"""
with {_SCORED_CTE},
qs as (
  select s.doc_id, d.source, s.quality,
    cast(round(s.quality * 10000) as bigint) as qsc
  from scored s join documents d using (doc_id)
),
host as (
  select source, (sum(qsc) // count(1))::bigint as host_q_scaled
  from qs group by source
)
select q.doc_id, q.source, q.quality, h.host_q_scaled,
  h.host_q_scaled >= 6700 as keep
from qs q join host h using (source)
""")
def q96_host_quality_filter(spark, sf_dir):
    """Host-reputation gate: per-source mean document quality in
    scaled int64 (sum of quality×10⁴ floor-divided by doc count —
    bit-identical at any parallelism), hosts below 0.67 drop all
    their docs. Partial-agg at host cardinality + broadcast
    join-back; the corpus is never shuffled."""
    from ai_pdf_extraction_spark.operators.text_analysis import (
        host_quality_filter,
    )

    return host_quality_filter(
        _t(spark, sf_dir, "documents"), min_host_quality_scaled=6700
    )


# q97 foreign-paragraph literals: marker-rich, apostrophe-free (SQL
# literal safety), detected de/fr by the shared wide detector
_Q97_DE = "der hund und die katze und das haus und der garten sind alt"
_Q97_FR = "le chat et la maison et les arbres et le jardin et la mer"


def _q97_oracle_sql() -> str:
    """DuckDB twin of q97: the q52 wide detector applied per blank-
    line paragraph, aggregated to the per-doc language mix with the
    exact (count desc, lang asc) tie rule."""
    score_cols, decide_case = _lang_detect_sql_parts("para")
    return f"""
with base as (
  select doc_id,
    text || case when doc_id % 4 = 0
               then chr(10) || chr(10) || '{_Q97_DE}'
             when doc_id % 4 = 1
               then chr(10) || chr(10) || '{_Q97_FR}'
             else '' end as text
  from documents
),
paras as (
  select doc_id, para from (
    select doc_id,
      unnest(regexp_split_to_array(text, '\\n{{2,}}')) as para
    from base
  ) where regexp_replace(para, '^[ \\t\\r\\n\\f]+|[ \\t\\r\\n\\f]+$', '', 'g') != ''
),
scored as (
  select doc_id, para,
    {score_cols}
  from (select doc_id, para,
               ' ' || lower(para) || ' ' as padded from paras)
),
langed as (
  select doc_id, {decide_case} as plang from scored
),
cnt as (
  select doc_id, plang, count(*)::bigint as n
  from langed group by doc_id, plang
),
ranked as (
  select doc_id, plang, n,
    row_number() over (partition by doc_id
                       order by n desc, plang) as rn,
    sum(n) over (partition by doc_id) as tot
  from cnt
)
select doc_id, tot::bigint as n_paras, plang as dominant_lang,
  n as n_dominant, (tot - n)::bigint as n_foreign,
  (tot - n) > 0 as is_mixed
from ranked where rn = 1
"""


# q97: blank-line paragraph explode → per-paragraph wide
# detector (shared SQL parts with q52) → exact argmax per doc
@contract(_q97_oracle_sql)
def q97_paragraph_lang_mix(spark, sf_dir):
    """Mixed-language page detection: docs ≡0/≡1 (mod 4) gain a
    German/French second paragraph, the rest stay single-language;
    each blank-line paragraph is scored by the q52 wide detector and
    the doc aggregates to (dominant lang, foreign-paragraph count,
    mixed flag) — exact integer argmax, ties to the smaller lang, no
    window (min over (-count, lang) structs)."""
    from ai_pdf_extraction_spark.operators.text_analysis import (
        paragraph_lang_mix,
    )

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(did % 4 == 0, F.lit("\n\n" + _Q97_DE))
            .when(did % 4 == 1, F.lit("\n\n" + _Q97_FR))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    return paragraph_lang_mix(aug)


# q98: DuckDB's nfc_normalize is an INDEPENDENT Unicode NFC
# implementation — a genuine cross-check of the Arrow UDF;
# regex steps mirror the operator byte for byte
@contract(lambda: r"""
with aug as (
  select doc_id,
    case (doc_id % 5)
      when 0 then 'Cafe' || chr(769) || ': ' || text
      when 1 then 'A' || chr(8203) || 'B' || chr(65279) || ' ' || text
      when 2 then chr(7) || 'bell ' || chr(31) || text
      when 3 then 'line one  ' || chr(13) || chr(10) || 'line two'
               || chr(13) || chr(10) || text
      else text end as text
  from documents
),
cleaned as (
  select doc_id, text,
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(nfc_normalize(text),
                  '[\x{200B}\x{200C}\x{200D}\x{FEFF}]', '', 'g'),
                '\r\n', chr(10), 'g'),
              '\r', chr(10), 'g'),
            '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
          '[ \t]+\n', chr(10), 'g'),
        '[ \t]+\z', '', 'g'),
      '\n{3,}', chr(10) || chr(10), 'g') as clean_text
  from aug
)
select doc_id, clean_text,
  length(text)::bigint as n_chars_raw,
  length(clean_text)::bigint as n_chars_clean,
  (clean_text != text) as changed
from cleaned
""")
def q98_normalize_text(spark, sf_dir):
    """Webtext normalization: docs cycle through five corruption
    classes (combining-acute café, zero-width joiners, a BEL control,
    CRLF line endings, untouched) and the cleaner must fix exactly
    the injected damage — NFC via an Arrow UDF cross-checked against
    DuckDB's INDEPENDENT nfc_normalize, the rest pure Column regex."""
    from ai_pdf_extraction_spark.operators.text_analysis import (
        normalize_text,
    )

    d = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 5
    aug = d.select(
        "doc_id",
        F.when(
            m == 0, F.concat(F.lit("Café: "), F.col("text"))
        )
        .when(m == 1, F.concat(F.lit("A​B﻿ "), F.col("text")))
        .when(m == 2, F.concat(F.lit("\x07bell \x1f"), F.col("text")))
        .when(
            m == 3,
            F.concat(
                F.lit("line one  \r\nline two\r"), F.lit("\n"),
                F.col("text"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return normalize_text(aug)


def _q99_pages(spark, sf_dir):
    """Deterministic HTML corpus for the outlink/metadata family —
    every href class the resolver handles, synthesized from doc_id in
    both engines (keep in lockstep with ``_Q99_PAGES_SQL``): an
    absolute cross-host link (entity-encoded ``&amp;`` + a tracking
    param the canonicalizer must strip), a protocol-relative CDN
    link with nested-tag/whitespace anchor markup, a root-relative or
    fragment link (doc_id%4), a relative or ``mailto:`` link
    (doc_id%5), a ``javascript:`` link on doc_id%6==0, and an
    href-less ``<a name=…>`` that must not match at all."""
    d = ensure_parallel(_t(spark, sf_dir, "documents"), "doc_id")
    did = F.col("doc_id")
    src = F.concat(
        F.lit("http://www.site"),
        (did % 13).cast("string"),
        F.lit(".example.co.uk/dir/"),
        did.cast("string"),
        F.lit(".html"),
    )
    html = F.concat(
        F.lit('<html><body><a href="http://site'),
        ((did * 7 + 3) % 13).cast("string"),
        F.lit(".example.com/abs/"),
        (did % 211).cast("string"),
        F.lit('?utm_source=f&amp;ref=1">Read '),
        (did % 5).cast("string"),
        F.lit('</a><a href="//cdn'),
        (did % 3).cast("string"),
        F.lit('.example.net/lib">  CDN <b>asset</b> </a>'),
        F.when(did % 4 == 0, F.lit('<a href="#top">skip</a>')).otherwise(
            F.concat(
                F.lit('<a href="/cat/'),
                (did % 97).cast("string"),
                F.lit('">Category</a>'),
            )
        ),
        F.when(
            did % 5 == 0, F.lit('<a href="mailto:x@example.com">mail</a>')
        ).otherwise(
            F.concat(
                F.lit('<a href="item'),
                (did % 11).cast("string"),
                F.lit('.html">Item</a>'),
            )
        ),
        F.when(
            did % 6 == 0, F.lit('<a href="javascript:void(0)">js</a>')
        ).otherwise(F.lit("")),
        F.lit('<a name="x">no href</a></body></html>'),
    )
    # non-nullable url/html (identity wrappers): q103's graph joins
    # infer isnotnull over host_of(outlink) chains and would push the
    # extraction regexes into the scan (the _q80_messy_url lesson)
    return d.select(
        "doc_id",
        F.coalesce(src, F.lit("")).alias("url"),
        F.coalesce(html, F.lit("")).alias("html"),
    )


@contract(lambda: f"""
with {_q99_outlink_ctes()}
select src_url, dst_url, anchor from olinks
""")
def q99_outlink_extraction(spark, sf_dir):
    """HTML outlink extraction — the extraction→webgraph bridge the
    reference's anchor-density pass never emits (it only measures
    link-text ratio, extractors/html_extractor.py). One (src, dst,
    anchor) row per double-quoted href: entity-decoded, resolved
    against the page url (absolute / protocol-relative /
    root-relative / directory-relative; fragment-only and
    javascript:/mailto: dropped), canonicalized via the staged
    projection, anchor markup reduced to clean display text. Pure
    Column regex inside the scan — zero shuffle at any corpus size."""
    from ai_pdf_extraction_spark.operators.links import extract_outlinks

    return extract_outlinks(_q99_pages(spark, sf_dir))


@contract(lambda: f"""
with {_q99_outlink_ctes()},
pa as (select dst_url, anchor, count(*)::bigint as n
       from olinks group by dst_url, anchor),
ranked as (select dst_url, anchor, n,
    row_number() over (partition by dst_url
                       order by n desc, anchor) as rn,
    sum(n) over (partition by dst_url) as tot from pa),
srcs as (select dst_url, count(distinct src_url)::bigint as n_srcs
         from olinks group by dst_url)
select r.dst_url, r.tot::bigint as n_links, s.n_srcs,
  r.anchor as top_anchor, r.n as top_anchor_links
from ranked r join srcs s using (dst_url) where r.rn = 1
""")
def q100_anchor_stats(spark, sf_dir):
    """Inbound anchor-text aggregation per link target: total inbound
    links, distinct linking pages, and the most frequent anchor text
    (ties lexicographically smaller — exact integer argmax via
    min(struct(-n, anchor)), no window). The abs-link leg fans 500
    docs onto 211 targets and its 'Read k' anchors tie within a
    target, exercising the tie rule at sf0.01."""
    from ai_pdf_extraction_spark.operators.links import anchor_stats

    # anchor_stats fans the extraction plan out into two aggregation
    # legs — unpersisted, each leg would splice and re-run the full
    # outlink expression tree (the q88 lesson)
    edges = persist("q100.edges", q99_outlink_extraction(spark, sf_dir))
    return anchor_stats(edges)


_Q101_HOST_SQL = """case
      when doc_id % 5 = 0
        then 'www.example' || (doc_id % 7)::varchar || '.co.uk'
      when doc_id % 5 = 1
        then 'blog.example' || (doc_id % 7)::varchar || '.co.uk'
      when doc_id % 5 = 2
        then 'Example' || (doc_id % 7)::varchar || '.COM:8080'
      when doc_id % 5 = 3
        then 'user' || (doc_id % 23)::varchar || '.github.io'
      when doc_id % 10 = 4 then 'co.uk'
      else 'deep.a.example' || (doc_id % 7)::varchar || '.com'
    end"""


def _q101_host_col() -> F.Column:
    """Spark twin of ``_Q101_HOST_SQL`` (keep in lockstep) — the
    five-shape host generator shared by q101 and q112."""
    did = F.col("doc_id")
    k = (did % 7).cast("string")
    return (
        F.when(
            did % 5 == 0,
            F.concat(F.lit("www.example"), k, F.lit(".co.uk")),
        )
        .when(
            did % 5 == 1,
            F.concat(F.lit("blog.example"), k, F.lit(".co.uk")),
        )
        .when(
            did % 5 == 2,
            F.concat(F.lit("Example"), k, F.lit(".COM:8080")),
        )
        .when(
            did % 5 == 3,
            F.concat(
                F.lit("user"), (did % 23).cast("string"), F.lit(".github.io")
            ),
        )
        .otherwise(
            F.when(did % 10 == 4, F.lit("co.uk")).otherwise(
                F.concat(F.lit("deep.a.example"), k, F.lit(".com"))
            )
        )
    )


@contract(lambda: f"""
with hosts as (
  select doc_id, {_Q101_HOST_SQL} as host from documents
),
rd as (select host, {_regdomain_sql("host")} as registered_domain
       from hosts)
select registered_domain, count(distinct host)::bigint as n_hosts,
  count(*)::bigint as n_docs
from rd group by registered_domain
""")
def q101_registered_domains(spark, sf_dir):
    """Public-suffix-aware site grouping: hosts synthesized across
    five shapes — www./blog. subdomains of a ``.co.uk`` domain (ONE
    registered domain), an uppercase ``.COM:8080`` (lowercase + port
    strip), ``user<m>.github.io`` (PSL private section: every
    subdomain its own registrant), a deep 4-label ``.com`` that joins
    shape 2's domain, and the bare suffix ``co.uk`` passing through
    whole. Rollup: distinct hosts + docs per registered domain — the
    grouping key the host-reputation and crawl-budget stages must use
    instead of raw host."""
    from ai_pdf_extraction_spark.operators.urls import registered_domain

    d = _t(spark, sf_dir, "documents")
    hosts = d.select("doc_id", _q101_host_col().alias("host"))
    return (
        hosts.select(
            registered_domain("host").alias("registered_domain"), "host"
        )
        .groupBy("registered_domain")
        .agg(
            F.countDistinct("host").alias("n_hosts"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def _q102_oracle_sql() -> str:
    """DuckDB twin of q102: head-metadata regexes shared with
    ``operators.links``, the canonical href resolved and gated on
    registered-domain equality, the winner canonicalized through the
    shared chain."""
    from ai_pdf_extraction_spark.operators.links import (
        CANONICAL_RE,
        META_DESC_RE,
        OG_TITLE_RE,
        TITLE_RE,
    )

    title_clean = (
        "trim(regexp_replace("
        + _dec5_sql(
            f"regexp_replace(regexp_extract(html, '{TITLE_RE}', 1), "
            "'<[^>]*>', '', 'g')"
        )
        + r", '[ \t\r\n\f]+', ' ', 'g'))"
    )
    host_canon = f"regexp_extract(canon_abs, {_HOST_EXTRACT_SQL})"
    host_page = f"regexp_extract(url, {_HOST_EXTRACT_SQL})"
    return f"""
with pages as (
  select doc_id,
    'http://www.site' || (doc_id % 13)::varchar
      || '.example.co.uk/p/' || doc_id::varchar as url,
    '<head><title> Doc &amp; ' || doc_id::varchar || ' </title>'
    || case when doc_id % 2 = 0
         then '<meta name="description" content="Desc &quot;'
              || (doc_id % 7)::varchar || '&quot;">' else '' end
    || case when doc_id % 4 = 0
         then '<meta property="og:title" content="OG '
              || (doc_id % 5)::varchar || '">' else '' end
    || case when doc_id % 6 = 0
         then '<link rel="canonical" href="http://amp.site'
              || (doc_id % 13)::varchar || '.example.co.uk/canon/'
              || (doc_id % 211)::varchar || '">'
       when doc_id % 3 = 0
         then '<link rel="canonical" href="/canon/'
              || (doc_id % 211)::varchar || '">'
       when doc_id % 3 = 1
         then '<link rel="canonical" href="http://mirror'
              || (doc_id % 5)::varchar || '.example.org/c/'
              || doc_id::varchar || '">'
       else '' end
    || '</head><body><p>x</p></body>' as html
  from documents
),
ext as (
  select doc_id, url,
    {title_clean} as title,
    nullif({_dec5_sql(f"regexp_extract(html, '{META_DESC_RE}', 1)")},
           '') as meta_desc,
    nullif({_dec5_sql(f"regexp_extract(html, '{OG_TITLE_RE}', 1)")},
           '') as og_title,
    nullif({_dec5_sql(f"regexp_extract(html, '{CANONICAL_RE}', 1)")},
           '') as canonical_href
  from pages
),
resv as (select *,
         {_resolve_href_sql("url", "canonical_href")} as canon_abs
         from ext),
acc as (select *,
    (canon_abs is not null
     and {_regdomain_sql(host_canon)} = {_regdomain_sql(host_page)})
      as canonical_accepted
  from resv),
eff as (select *,
        case when canonical_accepted then canon_abs else url end as eraw
        from acc),
raw as (select distinct 0::bigint as event_id, eraw as raw_url from eff),
{_URL_CANON_CHAIN_SQL},
cmap as (select raw_url, {_URL_CANON_FINAL_SQL} as canon_url from s5)
select e.doc_id, e.title, e.meta_desc, e.og_title, e.canonical_href,
  e.canonical_accepted, c.canon_url as effective_url
from eff e join cmap c on e.eraw = c.raw_url
"""


@contract(_q102_oracle_sql)
def q102_page_metadata(spark, sf_dir):
    """Head-metadata extraction + the cross-domain canonical-hijack
    guard: titles with entities, optional meta description / og:title,
    and a rel=canonical that is root-relative (accepted), absolute
    same-registered-domain on a DIFFERENT subdomain (accepted — the
    AMP shape), absolute cross-domain (REJECTED), or absent.
    ``effective_url`` is the canonicalized winner — the key the
    dedup/frontier stages join on."""
    from ai_pdf_extraction_spark.operators.links import extract_metadata

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    hid = (did % 13).cast("string")
    src = F.concat(
        F.lit("http://www.site"),
        hid,
        F.lit(".example.co.uk/p/"),
        did.cast("string"),
    )
    html = F.concat(
        F.lit("<head><title> Doc &amp; "),
        did.cast("string"),
        F.lit(" </title>"),
        F.when(
            did % 2 == 0,
            F.concat(
                F.lit('<meta name="description" content="Desc &quot;'),
                (did % 7).cast("string"),
                F.lit('&quot;">'),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 4 == 0,
            F.concat(
                F.lit('<meta property="og:title" content="OG '),
                (did % 5).cast("string"),
                F.lit('">'),
            ),
        ).otherwise(F.lit("")),
        F.when(
            (did % 3 == 0) & (did % 6 == 0),
            F.concat(
                F.lit('<link rel="canonical" href="http://amp.site'),
                hid,
                F.lit(".example.co.uk/canon/"),
                (did % 211).cast("string"),
                F.lit('">'),
            ),
        )
        .when(
            did % 3 == 0,
            F.concat(
                F.lit('<link rel="canonical" href="/canon/'),
                (did % 211).cast("string"),
                F.lit('">'),
            ),
        )
        .when(
            did % 3 == 1,
            F.concat(
                F.lit('<link rel="canonical" href="http://mirror'),
                (did % 5).cast("string"),
                F.lit(".example.org/c/"),
                did.cast("string"),
                F.lit('">'),
            ),
        )
        .otherwise(F.lit("")),
        F.lit("</head><body><p>x</p></body>"),
    )
    pages = d.select("doc_id", src.alias("url"), html.alias("html"))
    return extract_metadata(pages).select(
        "doc_id",
        "title",
        "meta_desc",
        "og_title",
        "canonical_href",
        "canonical_accepted",
        "effective_url",
    )


def _q103_oracle_sql() -> str:
    """q99's extracted olinks collapsed to the host graph, fed through
    the SAME chained-CTE integer-PageRank algebra as q84."""
    graph = (
        _q99_outlink_ctes()
        + f""",
hl as (select regexp_extract(src_url, {_HOST_EXTRACT_SQL}) as src,
              regexp_extract(dst_url, {_HOST_EXTRACT_SQL}) as dst
       from olinks),
edges as (select src, dst, count(*)::bigint as weight from hl
          where src <> dst group by src, dst)"""
    )
    return (
        "with "
        + _q84_pagerank_ctes(3, graph_ctes=graph)
        + '\nselect host, r as "rank" from r3'
    )


@contract(_q103_oracle_sql)
def q103_extracted_pagerank(spark, sf_dir):
    """The extraction→webgraph capstone: outlinks extracted from raw
    HTML (q99) collapse to the weighted host graph and feed the
    integer PageRank — raw pages in, centrality out, one pipeline.
    The host graph is genuinely non-uniform: 13 crawl hosts link out,
    13 .com targets and 3 CDN hosts only receive, so in-mass (and
    rank) separates the three classes. ``truncate_input_lineage``
    cuts the extraction subtree out of the iterative jobs' plans —
    without it every pagerank job re-ANALYZES the whole regex/canon
    tree (~5× slower, measured at sf0.1)."""
    from ai_pdf_extraction_spark.operators.graphs import (
        host_edges,
        pagerank,
    )

    # localCheckpoint the NARROW page-level link relation between
    # extraction and the graph: the composed q99 expression tree costs
    # ~6 s of driver-side (re-)planning per execution when embedded
    # under host_edges' filter+agg (thread-dumped: TreeNode.transformUp
    # grind), and the pushed-down src!=dst predicate re-evaluates the
    # full host/canon chains as a filter. Cutting here plans the big
    # tree once, materializes ~|links| narrow rows, and every graph
    # job downstream plans in milliseconds (same trade-off as
    # pagerank's truncate_input_lineage, one level earlier).
    links = q99_outlink_extraction(spark, sf_dir).select(
        "src_url", "dst_url"
    ).localCheckpoint()
    return pagerank(
        host_edges(links),
        iterations=3,
        truncate_input_lineage=True,
    )


@contract(lambda: f"""
with fr as (
  select
    'http://s' || (event_id % 41)::varchar || '.' ||
    case when event_id % 5 < 2
           then 'spam' || (event_id % 3)::varchar || '.example.com'
         when event_id % 5 = 2
           then 'good' || (event_id % 17)::varchar || '.co.uk'
         when event_id % 5 = 3
           then 'u' || (event_id % 29)::varchar || '.github.io'
         else 'example' || (event_id % 13)::varchar || '.org' end
    || '/p/' || event_id::varchar as canon_url,
    event_id as first_id
  from events
),
hosted as (
  select canon_url, first_id,
    {_regdomain_sql(f"regexp_extract(canon_url, {_HOST_EXTRACT_SQL})")}
      as host
  from fr
),
ranked as (
  select canon_url, host, first_id,
    row_number() over (partition by host
                       order by first_id % 64, md5(canon_url), canon_url)
      as pick_rank
  from hosted
)
select canon_url, host, first_id, pick_rank
from ranked where pick_rank <= 25
""")
def q104_domain_budget(spark, sf_dir):
    """Per-REGISTERED-DOMAIN crawl budget — the subdomain-spam
    counter: a spam site fanning its frontier across 41 subdomains of
    3 domains evades any per-host cap, but the eTLD+1 politeness key
    holds the whole site to one budget. Host shapes: 40% of urls on
    s<k>.spam{0-2}.example.com (capped hard), plus .co.uk / private
    github.io / .org families mostly under cap. Same two-phase
    sharded rank as q83 — the mega-site never funnels through one
    task."""
    from ai_pdf_extraction_spark.operators.urls import (
        frontier_host_cap,
        host_of,
        registered_domain,
    )

    e = _t(spark, sf_dir, "events")
    eid = F.col("event_id")
    dom = (
        F.when(
            eid % 5 < 2,
            F.concat(
                F.lit("spam"), (eid % 3).cast("string"),
                F.lit(".example.com"),
            ),
        )
        .when(
            eid % 5 == 2,
            F.concat(
                F.lit("good"), (eid % 17).cast("string"), F.lit(".co.uk")
            ),
        )
        .when(
            eid % 5 == 3,
            F.concat(
                F.lit("u"), (eid % 29).cast("string"), F.lit(".github.io")
            ),
        )
        .otherwise(
            F.concat(
                F.lit("example"), (eid % 13).cast("string"), F.lit(".org")
            )
        )
    )
    fr = e.select(
        F.concat(
            F.lit("http://s"),
            (eid % 41).cast("string"),
            F.lit("."),
            dom,
            F.lit("/p/"),
            eid.cast("string"),
        ).alias("canon_url"),
        eid.alias("first_id"),
        F.lit(True).alias("to_crawl"),
    )
    return frontier_host_cap(
        fr,
        per_host=25,
        politeness_key=registered_domain(host_of("canon_url")),
    )


def _q105_oracle_sql() -> str:
    """DuckDB twin of q105 — BOM ladder / shared meta regex /
    content heuristic / -sig-normalized mismatch flag."""
    from ai_pdf_extraction_spark.operators.text_analysis import (
        CHARSET_META_RE,
    )

    return f"""
with pages as (
  select doc_id,
    case when doc_id % 5 = 0 then 'EFBBBF78'
         when doc_id % 5 = 1 then 'FFFE7800' else '78' end as raw_hex,
    (case when doc_id % 5 in (0, 1)
            then '<head><meta charset="UTF-8"></head>'
          when doc_id % 5 = 2
            then '<head><meta charset="ISO-8859-1"></head>'
          else '<head></head>' end)
    || (case when doc_id % 5 = 3 then '<body>café</body>'
             else '<body>plain ascii</body>' end) as html
  from documents
),
s as (
  select doc_id,
    case when upper(raw_hex) like 'EFBBBF%' then 'utf-8-sig'
         when upper(raw_hex) like 'FFFE%' then 'utf-16le'
         when upper(raw_hex) like 'FEFF%' then 'utf-16be' end
      as bom_charset,
    nullif(lower(regexp_extract(html, '{CHARSET_META_RE}', 1)), '')
      as declared_charset,
    case when regexp_matches(html, '[^\\x00-\\x7F]') then 'utf-8'
         else 'us-ascii' end as heur
  from pages
)
select doc_id, bom_charset, declared_charset,
  coalesce(bom_charset, declared_charset, heur) as detected_charset,
  (bom_charset is not null and declared_charset is not null
   and replace(bom_charset, '-sig', '') != declared_charset)
    as declared_mismatch
from s
"""


@contract(_q105_oracle_sql)
def q105_charset_sniff(spark, sf_dir):
    """Encoding detection over five injected classes: utf-8 BOM +
    matching declaration (no mismatch — the -sig normalization),
    utf-16le BOM under a utf-8 declaration (the mismatch bug), a bare
    ISO-8859-1 declaration, undeclared non-ASCII content (utf-8
    heuristic), undeclared pure-ASCII (us-ascii)."""
    from ai_pdf_extraction_spark.operators.text_analysis import (
        sniff_charset,
    )

    d = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 5
    pages = d.select(
        "doc_id",
        F.when(m == 0, F.lit("EFBBBF78"))
        .when(m == 1, F.lit("FFFE7800"))
        .otherwise(F.lit("78"))
        .alias("raw_hex"),
        F.concat(
            F.when(
                (m == 0) | (m == 1),
                F.lit('<head><meta charset="UTF-8"></head>'),
            )
            .when(
                m == 2,
                F.lit('<head><meta charset="ISO-8859-1"></head>'),
            )
            .otherwise(F.lit("<head></head>")),
            F.when(m == 3, F.lit("<body>café</body>")).otherwise(
                F.lit("<body>plain ascii</body>")
            ),
        ).alias("html"),
    )
    return sniff_charset(pages).select(
        "doc_id",
        "bom_charset",
        "declared_charset",
        "detected_charset",
        "declared_mismatch",
    )


def _q106_oracle_sql() -> str:
    """DuckDB twin of q106 — the q102 canonical-guard chain over
    coarse /c/<id%7> keys, collapsed by effective url."""
    from ai_pdf_extraction_spark.operators.links import CANONICAL_RE

    host_canon = f"regexp_extract(canon_abs, {_HOST_EXTRACT_SQL})"
    host_page = f"regexp_extract(url, {_HOST_EXTRACT_SQL})"
    return f"""
with pages as (
  select doc_id,
    'http://www.site' || (doc_id % 13)::varchar
      || '.example.co.uk/p/' || doc_id::varchar as url,
    '<head><title>D</title>'
    || case when doc_id % 3 = 0
         then '<link rel="canonical" href="/c/'
              || (doc_id % 7)::varchar || '">'
       when doc_id % 3 = 1
         then '<link rel="canonical" href="http://mirror.example.org/c/'
              || doc_id::varchar || '">'
       else '' end
    || '</head>' as html
  from documents
),
ext as (
  select doc_id, url,
    nullif({_dec5_sql(f"regexp_extract(html, '{CANONICAL_RE}', 1)")},
           '') as canonical_href
  from pages
),
resv as (select *,
         {_resolve_href_sql("url", "canonical_href")} as canon_abs
         from ext),
acc as (select *,
    (canon_abs is not null
     and {_regdomain_sql(host_canon)} = {_regdomain_sql(host_page)})
      as canonical_accepted
  from resv),
eff as (select *,
        case when canonical_accepted then canon_abs else url end as eraw
        from acc),
raw as (select distinct 0::bigint as event_id, eraw as raw_url from eff),
{_URL_CANON_CHAIN_SQL},
cmap as (select raw_url, {_URL_CANON_FINAL_SQL} as canon_url from s5),
j as (select e.doc_id, e.canonical_accepted,
             c.canon_url as effective_url
      from eff e join cmap c on e.eraw = c.raw_url)
select effective_url, count(*)::bigint as n_pages,
  min(doc_id) as first_doc,
  sum(case when canonical_accepted then 1 else 0 end)::bigint
    as n_canonical
from j group by effective_url
"""


@contract(_q106_oracle_sql)
def q106_canonical_collapse(spark, sf_dir):
    """Canonical-url dedup collapse — the url-level twin of content
    dedup: pages whose (guarded) rel=canonical resolves to the same
    effective url are ONE document downstream. Coarse /c/<id%7> keys
    make same-host pages genuinely collide (~76 pairs at 500 docs);
    the cross-domain leg stays un-collapsed (rejected canonical keeps
    the page url, which is unique). One partial-agg groupBy on the
    effective key."""
    from ai_pdf_extraction_spark.operators.links import extract_metadata

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    src = F.concat(
        F.lit("http://www.site"),
        (did % 13).cast("string"),
        F.lit(".example.co.uk/p/"),
        did.cast("string"),
    )
    html = F.concat(
        F.lit("<head><title>D</title>"),
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit('<link rel="canonical" href="/c/'),
                (did % 7).cast("string"),
                F.lit('">'),
            ),
        )
        .when(
            did % 3 == 1,
            F.concat(
                F.lit('<link rel="canonical" href="http://mirror.example.org/c/'),
                did.cast("string"),
                F.lit('">'),
            ),
        )
        .otherwise(F.lit("")),
        F.lit("</head>"),
    )
    pages = d.select("doc_id", src.alias("url"), html.alias("html"))
    return (
        extract_metadata(pages)
        .groupBy("effective_url")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.min("doc_id").alias("first_doc"),
            F.sum(F.col("canonical_accepted").cast("int"))
            .cast("long")
            .alias("n_canonical"),
        )
    )


@contract(lambda: f"""
with {_q99_outlink_ctes()},
newl as (
  select (regexp_extract(src_url, '/dir/([0-9]+)\\.html', 1))::bigint
           as doc_id,
         dst_url
  from olinks
),
grp as (
  select dst_url as canon_url, min(doc_id) as first_id,
         count(*) as n_discovered
  from newl group by dst_url
),
seen as (
  select distinct 'http://www.site' || (doc_id % 13)::varchar
    || '.example.co.uk/cat/' || (doc_id % 97)::varchar as canon_url
  from documents where doc_id % 2 = 0
)
select g.canon_url, g.first_id, g.n_discovered,
  (s.canon_url is not null) as in_seen,
  (s.canon_url is null) as to_crawl
from grp g left join seen s using (canon_url)
""")
def q107_discovery_frontier(spark, sf_dir):
    """The crawl loop CLOSED from extraction: raw pages → outlinks
    (with the discoverer's doc_id carried through — provenance ON the
    link row, no 10^12-page join-back) → frontier delta against the
    seen-set. The seen-set holds the /cat/ pages already crawled by
    EVEN docs, so extracted /cat/ links split in_seen by discoverer
    parity while abs/cdn/item discoveries are all new — every decision
    leg non-vacuous. Relies on (and contract-pins) canonicalization
    idempotency: extract_outlinks emits canonical urls and
    url_frontier_delta canonicalizes again."""
    from ai_pdf_extraction_spark.operators.links import extract_outlinks
    from ai_pdf_extraction_spark.operators.urls import url_frontier_delta

    links = extract_outlinks(
        _q99_pages(spark, sf_dir), passthrough=("doc_id",)
    )
    new = links.select("doc_id", "dst_url")
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    seen = (
        d.filter(did % 2 == 0)
        .select(
            F.concat(
                F.lit("http://www.site"),
                (did % 13).cast("string"),
                F.lit(".example.co.uk/cat/"),
                (did % 97).cast("string"),
            ).alias("canon_url")
        )
        .distinct()
    )
    return url_frontier_delta(
        new, seen, url_col="dst_url", id_col="doc_id"
    )


@contract(lambda: r"""
with r as (
  select id, 'host' || id::varchar || '.example.org' as host,
    case when id % 4 = 0 then
        'Sitemap: https://host' || id::varchar
        || '.example.org/sitemap.xml' || chr(10)
        || 'Sitemap: https://host' || id::varchar
        || '.example.org/s2.xml # primary' || chr(10)
        || 'User-agent: *' || chr(10) || 'Disallow: /p/'
      when id % 4 = 1 then
        'User-agent: BadBot' || chr(10) || 'Disallow: /' || chr(10)
        || 'Sitemap: https://host' || id::varchar
        || '.example.org/inside.xml'
      when id % 4 = 2 then
        'sitemap:https://host' || id::varchar
        || '.example.org/a.xml' || chr(10)
        || 'SITEMAP:  https://cdn.example.net/shared.xml  ' || chr(10)
        || 'Sitemap: /relative-junk' || chr(10)
        || 'Sitemap: https://host' || id::varchar
        || '.example.org/a.xml'
      else 'User-agent: *' || chr(10) || 'Disallow: /' end
      as robots_txt
  from range(19) t(id)
),
l as (
  select host,
    regexp_replace(regexp_replace(
      unnest(string_split(robots_txt, chr(10))), '#.*$', '', 'g'),
      '^[ \t\r]+|[ \t\r]+$', '', 'g') as l
  from r
),
sm as (
  select host,
    regexp_replace(regexp_extract(l, '(?i)^sitemap[ \t]*:[ \t]*([^\r\n]*)', 1),
                   '^[ \t\r]+|[ \t\r]+$', '', 'g') as sitemap_url
  from l where regexp_matches(l, '(?i)^sitemap[ \t]*:')
)
select distinct host, sitemap_url from sm
where regexp_matches(sitemap_url, '(?i)^https?://')
""")
def q108_robots_sitemaps(spark, sf_dir):
    """``Sitemap:`` directive discovery across hostile placements:
    before any group, INSIDE a foreign BadBot group (binds anyway —
    the group-independence rule), case variants (``sitemap:`` /
    ``SITEMAP:``), a trailing comment, a cross-host CDN sitemap, a
    relative-url junk line (dropped — the spec requires full urls)
    and a duplicate advertisement (collapsed). Hosts ≡ 3 (mod 4)
    publish no directive and must be absent."""
    from ai_pdf_extraction_spark.operators.robots import (
        parse_sitemap_urls,
    )

    hid = F.col("id")
    k = hid.cast("string")
    robots = spark.range(19).select(
        F.concat(F.lit("host"), k, F.lit(".example.org")).alias("host"),
        F.when(
            hid % 4 == 0,
            F.concat(
                F.lit("Sitemap: https://host"), k,
                F.lit(".example.org/sitemap.xml\n"),
                F.lit("Sitemap: https://host"), k,
                F.lit(".example.org/s2.xml # primary\n"),
                F.lit("User-agent: *\nDisallow: /p/"),
            ),
        )
        .when(
            hid % 4 == 1,
            F.concat(
                F.lit("User-agent: BadBot\nDisallow: /\n"),
                F.lit("Sitemap: https://host"), k,
                F.lit(".example.org/inside.xml"),
            ),
        )
        .when(
            hid % 4 == 2,
            F.concat(
                F.lit("sitemap:https://host"), k,
                F.lit(".example.org/a.xml\n"),
                F.lit("SITEMAP:  https://cdn.example.net/shared.xml  \n"),
                F.lit("Sitemap: /relative-junk\n"),
                F.lit("Sitemap: https://host"), k,
                F.lit(".example.org/a.xml"),
            ),
        )
        .otherwise(F.lit("User-agent: *\nDisallow: /"))
        .alias("robots_txt"),
    )
    return parse_sitemap_urls(robots)


def _scratch_shard_dir(tag: str, sf_dir: str) -> str:
    """Pid-keyed /tmp shard dir for the export round-trip queries:
    two processes contracting the same sf_dir must not share a dir
    (one's overwrite racing the other's lazy read), and stale
    siblings from DEAD pids are pruned so repeated runs do not
    accumulate in /tmp (live pids are left alone)."""
    import glob as _glob
    import hashlib as _hl
    import os as _os
    import shutil as _shutil

    key = _hl.md5(_os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    base = f"/tmp/spark_graft_{tag}_{key}"
    for stale in _glob.glob(base + "_*"):
        try:
            pid = int(stale.rsplit("_", 1)[1])
            _os.kill(pid, 0)  # raises if the owner is gone
        except (ValueError, ProcessLookupError):
            _shutil.rmtree(stale, ignore_errors=True)
        except PermissionError:
            pass  # someone else's live process
    return f"{base}_{_os.getpid()}"


# q109: the oracle computes (url, md5, BYTE length) straight
# from the generator — the Spark side must reproduce it from
# bytes that round-tripped through WET shards on disk.
# DuckDB strlen() is bytes (length() is chars).
@contract(lambda: """
select 'http://w' || (doc_id % 13)::varchar || '.example.com/doc/'
         || doc_id::varchar as url,
  md5(text) as text_md5,
  strlen(text)::bigint as n_bytes
from documents
""")
def q109_wet_roundtrip(spark, sf_dir):
    """WET export → re-read round trip over the REAL document texts
    (multi-line, multi-lingual — the hostile payload set): the corpus
    is framed as ``conversion`` records by the zero-Python Column
    writer, lands as per-partition WET shards, and is read back
    through the shared WARC framing iterator. The contract compares
    (url, md5(text), byte length) of what came OUT of the shards
    against DuckDB computing the same directly from the generator —
    any framing bug (char-vs-byte length, separator drift, payload
    corruption) breaks the hash."""
    from ai_pdf_extraction_spark.sources.wet import export_wet, read_wet

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    df = d.select(
        F.concat(
            F.lit("http://w"), (did % 13).cast("string"),
            F.lit(".example.com/doc/"), did.cast("string"),
        ).alias("url"),
        F.to_timestamp(F.lit("2026-01-02 03:04:05")).alias("warc_ts"),
        F.col("text").alias("extracted_text"),
    )
    out = _scratch_shard_dir("wet", sf_dir)
    export_wet(df, out)
    back = read_wet(spark, out)
    return back.select(
        "url",
        F.md5("text").alias("text_md5"),
        F.octet_length("text").cast("long").alias("n_bytes"),
    )


def _q110_oracle_sql() -> str:
    """DuckDB twin of q110, REBUILT from the operator's own constants
    (terminal regex, drop markers, thresholds) — the _regdomain_sql
    discipline: editing C4_DROP_MARKERS cannot silently leave the
    oracle on old rules."""
    from ai_pdf_extraction_spark.operators.text_analysis import (
        C4_DROP_MARKERS,
        C4_MIN_LINES,
        C4_MIN_WORDS,
        C4_TERMINAL_RE,
    )

    marker_preds = "\n     ".join(
        f"and not contains(lower(l), '{m.replace(chr(39), chr(39) * 2)}')"
        for m in C4_DROP_MARKERS
    )
    return f"""
with aug as (
  select doc_id,
    case when doc_id % 7 = 0 then
      'Enable javascript now' || chr(10)
      || 'Read our cookie policy here today ok.' || chr(10)
      || 'short one.' || chr(10)
      || 'no terminal punctuation in this line at all'
    else
      'This page uses a cookie banner everywhere.' || chr(10)
      || 'Tiny line.' || chr(10)
      || 'This line is long enough and ends properly.' || chr(10)
      || 'She replied with a firm "final answer."' || chr(10)
      || 'this long line has no terminal punctuation at all' || chr(10)
      || case when doc_id % 3 = 0 then
           'Closing sentence number ' || (doc_id % 11)::varchar
           || ' finishes the document properly.' || chr(10)
         else '' end
      || text
    end as text
  from documents
),
l as (
  select doc_id,
    generate_subscripts(regexp_split_to_array(text, '\r?\n'), 1)
      as pos,
    unnest(regexp_split_to_array(text, '\r?\n')) as l
  from aug
),
k as (
  select doc_id, pos, l,
    (regexp_matches(l, '{C4_TERMINAL_RE}')
     and len(regexp_extract_all(l, '[^ \t]+')) >= {C4_MIN_WORDS}
     {marker_preds}) as keep
  from l
)
select doc_id,
  coalesce(string_agg(case when keep then l end, chr(10) order by pos),
           '') as clean_text,
  count(*)::bigint as n_lines_raw,
  sum(keep::int)::bigint as n_lines_kept,
  (sum(keep::int) >= {C4_MIN_LINES}) as kept
from k group by doc_id
"""


@contract(_q110_oracle_sql)
def q110_c4_line_clean(spark, sf_dir):
    """C4 line-level cleaning over augmented docs: a cookie-notice
    line (terminal punct + enough words but marker-dropped), a short
    line, a kept plain sentence, a kept quote-terminated sentence, a
    no-punctuation line, then the real corpus lines (mixed verdicts).
    Docs ≡ 0 (mod 7) are replaced by all-dropped junk — the
    ``kept=false`` / ``clean_text=''`` leg."""
    from ai_pdf_extraction_spark.operators.text_analysis import (
        c4_line_clean,
    )

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    junk = (
        "Enable javascript now\n"
        "Read our cookie policy here today ok.\n"
        "short one.\n"
        "no terminal punctuation in this line at all"
    )
    head = (
        "This page uses a cookie banner everywhere.\n"
        "Tiny line.\n"
        "This line is long enough and ends properly.\n"
        'She replied with a firm "final answer."\n'
        "this long line has no terminal punctuation at all\n"
    )
    # the corpus lines themselves never pass C4 (word-salad without
    # terminal punctuation — verified: 0 corpus lines keep at sf0.01),
    # so the head contributes exactly 2 keepers and a third arrives
    # only for doc_id % 3 == 0: the min_lines=3 verdict flips on that
    # boundary, making BOTH kept legs non-vacuous (the q73 lesson)
    third = F.when(
        did % 3 == 0,
        F.concat(
            F.lit("Closing sentence number "),
            (did % 11).cast("string"),
            F.lit(" finishes the document properly.\n"),
        ),
    ).otherwise(F.lit(""))
    aug = d.select(
        "doc_id",
        F.when(did % 7 == 0, F.lit(junk))
        .otherwise(F.concat(F.lit(head), third, F.col("text")))
        .alias("text"),
    )
    return c4_line_clean(aug)


def _q111_oracle_sql() -> str:
    """DuckDB twin of q111: title and outlink fan-out computed
    DIRECTLY from the generator — the Spark side must reproduce them
    from fields that round-tripped through WAT shards + json."""
    from ai_pdf_extraction_spark.operators.links import TITLE_RE

    title_clean = (
        "trim(regexp_replace("
        + _dec5_sql(
            f"regexp_replace(regexp_extract(html2, '{TITLE_RE}', 1), "
            "'<[^>]*>', '', 'g')"
        )
        + r", '[ \t\r\n\f]+', ' ', 'g'))"
    )
    return f"""
with {_q99_outlink_ctes()},
p2 as (
  select url,
    '<head><title> Page ' || (doc_id % 50)::varchar
      || ' </title></head>' || html as html2
  from pages
),
cnt as (
  select src_url, count(*)::bigint as n_outlinks
  from olinks group by src_url
),
t as (select url, {title_clean} as title from p2)
select t.url, t.title, coalesce(c.n_outlinks, 0)::bigint as n_outlinks
from t left join cnt c on t.url = c.src_url
"""


@contract(_q111_oracle_sql)
def q111_wat_roundtrip(spark, sf_dir):
    """WAT tier round trip — the middle Common Crawl artifact: the
    q99 corpus gains a ``<title>`` head, per-page metadata (title) and
    the outlink fan-out are summarized into a json ``metadata`` record
    per page, exported as WAT shards, read back and re-parsed. The
    contract compares the PARSED fields against DuckDB computing them
    directly — framing, json encoding and the type filter all sit on
    the verified path."""
    from ai_pdf_extraction_spark.operators.links import (
        extract_metadata,
        extract_outlinks,
    )
    from ai_pdf_extraction_spark.sources.wet import export_wat, read_wat

    pages = _q99_pages(spark, sf_dir)
    did = F.col("doc_id")
    p2 = pages.select(
        "doc_id",
        "url",
        F.concat(
            F.lit("<head><title> Page "),
            (did % 50).cast("string"),
            F.lit(" </title></head>"),
            F.col("html"),
        ).alias("html"),
    )
    md = extract_metadata(p2).select("url", "title")
    cnt = (
        extract_outlinks(p2)
        .groupBy("src_url")
        .agg(F.count(F.lit(1)).alias("n_outlinks"))
    )
    wat = (
        md.join(cnt, md.url == cnt.src_url, "left")
        .select(
            md.url.alias("url"),
            F.to_timestamp(F.lit("2026-01-02 03:04:05")).alias("warc_ts"),
            F.to_json(
                F.struct(
                    "title",
                    F.coalesce("n_outlinks", F.lit(0)).alias("n_outlinks"),
                )
            ).alias("wat_json"),
        )
    )
    out = _scratch_shard_dir("wat", sf_dir)
    export_wat(wat, out)
    back = read_wat(spark, out)
    # parse the json payload ONCE (from_json into a bound struct —
    # per-field get_json_object re-parses per field, the CLAUDE.md
    # json rule)
    parsed = back.withColumn(
        "_w",
        F.from_json("wat_json", "title string, n_outlinks string"),
    )
    return parsed.select(
        "url",
        F.col("_w.title").alias("title"),
        F.col("_w.n_outlinks").cast("long").alias("n_outlinks"),
    )


@contract(lambda: f"""
with {_SCORED_CTE},
hosts as (
  select doc_id, {_Q101_HOST_SQL} as host from documents
),
rd as (select doc_id, {_regdomain_sql("host")} as site from hosts),
qs as (
  select s.doc_id, r.site, s.quality,
    cast(round(s.quality * 10000) as bigint) as qsc
  from scored s join rd r using (doc_id)
),
site as (
  select site, (sum(qsc) // count(1))::bigint as host_q_scaled
  from qs group by site
)
select q.doc_id, q.site, q.quality, h.host_q_scaled,
  h.host_q_scaled >= 6700 as keep
from qs q join site h using (site)
""")
def q112_domain_quality_filter(spark, sf_dir):
    """The host-reputation gate re-keyed on REGISTERED DOMAIN — the
    q104 politeness lesson applied to the reputation stage: a spam
    site cannot hide a bad subdomain behind a good one (www. and
    blog. of one .co.uk domain pool into ONE mean, github.io
    subdomains stay separate registrants). Pure composition:
    ``registered_domain(host)`` becomes the gate's group column;
    threshold 6700 splits the 38 sites near their median (both keep
    legs non-vacuous at sf0.01). Same scale shape as q96: site
    relation partial-aggs at eTLD+1 cardinality and broadcasts
    back."""
    from ai_pdf_extraction_spark.operators.text_analysis import (
        host_quality_filter,
    )
    from ai_pdf_extraction_spark.operators.urls import registered_domain

    d = _t(spark, sf_dir, "documents")
    docs2 = d.select(
        "doc_id",
        "text",
        registered_domain(_q101_host_col()).alias("site"),
    )
    return host_quality_filter(
        docs2, min_host_quality_scaled=6700, group_col="site"
    )


@contract(lambda: f"""
with {_q113_resolution_ctes()}
select start_url, final_url, n_hops, status from res
""")
def q113_redirect_resolution(spark, sf_dir):
    """Redirect-chain resolution over a synthesized fetch log: 499
    urls, the %5==1 class redirects via (3n+1)%499 (mostly 1-hop,
    occasional multi-hop after wraparound — node 336 chains INTO the
    injected 11↔31 two-cycle and flags 'loop'), nodes 41..66 form a
    6-link ladder that exhausts the 5-hop budget ('too_many_hops'),
    and node 21 points outside the fetch log ('dangling'). All four
    status legs non-vacuous by construction."""
    from ai_pdf_extraction_spark.operators.urls import resolve_redirects

    e = _t(spark, sf_dir, "events")
    nn = e.select((F.col("event_id") % 499).alias("n")).distinct()
    u = lambda c: F.concat(  # noqa: E731
        F.lit("http://r.example.com/u/"), c.cast("string")
    )
    starts = nn.select(u(F.col("n")).alias("url"))
    rn = nn.filter(F.col("n") % 5 == 1)
    n = F.col("n")
    dst_n = (
        F.when(n == 11, F.lit(31))
        .when(n == 31, F.lit(11))
        .when(n == 21, F.lit(10007))
        .when((n >= 41) & (n <= 66), n + 5)
        .otherwise((3 * n + 1) % 499)
    )
    red = rn.select(u(n).alias("src"), u(dst_n).alias("dst"))
    return resolve_redirects(starts, red)


@contract(lambda: f"""
with {_q113_resolution_ctes()}
select final_url, count(*)::bigint as n_entry_urls,
  min(start_url) as first_entry,
  sum(case when n_hops > 0 then 1 else 0 end)::bigint
    as n_redirect_entries
from res where status = 'ok' group by final_url
""")
def q114_final_url_collapse(spark, sf_dir):
    """Why redirect resolution exists: entry urls collapse onto their
    FINAL url (a redirect source and its target's direct url are ONE
    document — ~99 such pairs in the q113 graph), so dedup/capture
    stages key on the final form. One partial-agg groupBy over the
    ok-status resolutions: fan-in count, canonical first entry, and
    how many entries arrived via a redirect."""
    resolved = q113_redirect_resolution(spark, sf_dir)
    return (
        resolved.filter(F.col("status") == "ok")
        .groupBy("final_url")
        .agg(
            F.count(F.lit(1)).alias("n_entry_urls"),
            F.min("start_url").alias("first_entry"),
            F.sum((F.col("n_hops") > 0).cast("int"))
            .cast("long")
            .alias("n_redirect_entries"),
        )
    )


@contract(lambda: r"""
with log as (
  select case
    when event_id % 4 = 0 then
      'http://cal.example.com/cal/' || (event_id % 997)::varchar
      || '/' || (event_id % 31)::varchar
    when event_id % 4 = 1 then
      'http://shop.example.com/item?sid=' || md5((event_id)::varchar)
    else 'http://h' || (event_id % 7)::varchar || '.example.com/p/'
         || (event_id % 37)::varchar
  end as url
  from events
),
t as (
  select
    regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?]*)', 1)
      as host,
    regexp_replace(regexp_replace(
      regexp_replace(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*', ''),
      '(?i)[0-9a-f]{8,}', '{h}', 'g'),
      '[0-9]+', '{d}', 'g') as template,
    url
  from log
)
select host, template, count(distinct url)::bigint as n_urls,
  count(distinct url) >= 50 as is_trap
from t group by host, template
""")
def q115_trap_templates(spark, sf_dir):
    """Crawler-trap mining over a synthesized fetch log: a calendar
    host whose (day, archive) pair space fans ~500 distinct urls into
    ONE template, a shop host whose md5 session ids collapse under
    the hex rule, and seven normal hosts whose /p/{d} space caps at
    37 distinct urls (popularly REFETCHED — distinct-counting is what
    keeps them under the trap threshold)."""
    from ai_pdf_extraction_spark.operators.urls import url_templates

    e = _t(spark, sf_dir, "events")
    eid = F.col("event_id")
    url = (
        F.when(
            eid % 4 == 0,
            F.concat(
                F.lit("http://cal.example.com/cal/"),
                (eid % 997).cast("string"),
                F.lit("/"),
                (eid % 31).cast("string"),
            ),
        )
        .when(
            eid % 4 == 1,
            F.concat(
                F.lit("http://shop.example.com/item?sid="),
                F.md5(eid.cast("string")),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("http://h"),
                (eid % 7).cast("string"),
                F.lit(".example.com/p/"),
                (eid % 37).cast("string"),
            )
        )
    )
    return url_templates(e.select(url.alias("url")), min_urls=50)


@contract(lambda: """
with log as (
  select 'h' || (event_id % 11)::varchar || '.example.com' as host,
    case when event_id % 11 = 9 then 503
         when event_id % 11 in (2, 5) and event_id % 3 = 0 then 503
         when event_id % 7 = 0 then 404
         else 200 end as status
  from events
)
select host, count(*)::bigint as n_fetches,
  sum((status >= 500)::int)::bigint as n_errors,
  ((30 * (count(*) - sum((status >= 500)::int))) // count(*))::bigint
    as cap
from log group by host
""")
def q116_error_backoff_caps(spark, sf_dir):
    """Per-host 5xx backoff: host 9 answers nothing but 503 (cap 0 —
    skipped for the cycle), hosts 2 and 5 fail every third fetch
    (cap scales to the healthy two-thirds, exact integer div), 404s
    are NOT errors for backoff (a missing page is a healthy server),
    the rest keep the full budget."""
    from ai_pdf_extraction_spark.operators.urls import host_error_backoff

    e = _t(spark, sf_dir, "events")
    eid = F.col("event_id")
    hid = eid % 11
    status = (
        F.when(hid == 9, F.lit(503))
        .when(hid.isin(2, 5) & (eid % 3 == 0), F.lit(503))
        .when(eid % 7 == 0, F.lit(404))
        .otherwise(F.lit(200))
    )
    log = e.select(
        F.concat(
            F.lit("h"), hid.cast("string"), F.lit(".example.com")
        ).alias("host"),
        status.alias("status"),
    )
    return host_error_backoff(log, base_cap=30)


@contract(lambda: r"""
with log as (
  select case
    when event_id % 4 = 0 then
      'http://cal.example.com/cal/' || (event_id % 997)::varchar
      || '/' || (event_id % 31)::varchar
    when event_id % 4 = 1 then
      'http://shop.example.com/item?sid=' || md5((event_id)::varchar)
    else 'http://h' || (event_id % 7)::varchar || '.example.com/p/'
         || (event_id % 37)::varchar
  end as url
  from events
),
tl as (
  select
    regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?]*)', 1)
      as host,
    regexp_replace(regexp_replace(
      regexp_replace(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*', ''),
      '(?i)[0-9a-f]{8,}', '{h}', 'g'),
      '[0-9]+', '{d}', 'g') as template,
    url
  from log
),
traps as (
  select host, template from tl
  group by host, template having count(distinct url) >= 50
),
fr as (
  select distinct case
    when (event_id + 1) % 4 = 0 then
      'http://cal.example.com/cal/' || ((event_id + 1) % 997)::varchar
      || '/' || ((event_id + 1) % 31)::varchar
    when (event_id + 1) % 4 = 1 then
      'http://shop.example.com/item?sid='
      || md5((event_id + 1)::varchar)
    else 'http://h' || ((event_id + 1) % 7)::varchar
         || '.example.com/p/' || ((event_id + 1) % 37)::varchar
  end as canon_url,
    min(event_id) as first_id
  from events group by 1
),
ft as (
  select canon_url, first_id,
    regexp_extract(canon_url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?]*)', 1)
      as host,
    regexp_replace(regexp_replace(
      regexp_replace(canon_url,
                     '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*', ''),
      '(?i)[0-9a-f]{8,}', '{h}', 'g'),
      '[0-9]+', '{d}', 'g') as template
  from fr
)
select f.canon_url, f.first_id,
  (t.host is not null) as trap_hit
from ft f left join traps t
  on f.host = t.host and f.template = t.template
""")
def q117_trap_filtered_frontier(spark, sf_dir):
    """The trap loop closed: templates mined from the q115 fetch log
    gate the NEXT cycle's frontier — calendar and session-id urls are
    flagged ``trap_hit`` before any politeness cap sees them, normal
    pages pass. The frontier is the same url generator shifted by one
    (event_id+1), so trap urls genuinely recur without being
    byte-identical to the mined log."""
    from ai_pdf_extraction_spark.operators.urls import (
        trap_filter,
        url_templates,
    )

    e = _t(spark, sf_dir, "events")
    eid = F.col("event_id")

    def gen(shift):
        k = eid + shift
        return (
            F.when(
                k % 4 == 0,
                F.concat(
                    F.lit("http://cal.example.com/cal/"),
                    (k % 997).cast("string"),
                    F.lit("/"),
                    (k % 31).cast("string"),
                ),
            )
            .when(
                k % 4 == 1,
                F.concat(
                    F.lit("http://shop.example.com/item?sid="),
                    F.md5(k.cast("string")),
                ),
            )
            .otherwise(
                F.concat(
                    F.lit("http://h"),
                    (k % 7).cast("string"),
                    F.lit(".example.com/p/"),
                    (k % 37).cast("string"),
                )
            )
        )

    # the trap relation is the broadcast probe — built once
    traps = persist(
        "q117.traps",
        url_templates(e.select(gen(0).alias("url")), min_urls=50),
    )
    frontier = (
        e.select(gen(1).alias("canon_url"), eid)
        .groupBy("canon_url")
        .agg(F.min("event_id").alias("first_id"))
    )
    return trap_filter(frontier, traps)


# ---------------------------------------------------------------------------
# DuckDB oracle fragments shared by several queries' oracles — keep
# column names/rounding in lockstep with the queries
# ---------------------------------------------------------------------------

# Mirrors operators/dedup.py: the shingle universe is DF-capped (drop
# shingles in more than DEFAULT_MAX_SHINGLE_DF docs) BEFORE sizes and
# the self-join, so Jaccard numerator/denominator share one universe.
from ai_pdf_extraction_spark.operators.dedup import DEFAULT_MAX_SHINGLE_DF
from ai_pdf_extraction_spark.operators.urls import _ASSET_EXT_RE

_SHINGLES_CTE = f"""
sh_all as (
  select doc_id,
         unnest(list_distinct([array_to_string(words[i:i+2], ' ')
                               for i in range(1, len(words) - 1)])) as shingle
  from (select doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') as words
        from documents)
),
sh as (
  select sh_all.doc_id, sh_all.shingle from sh_all
  join (select shingle from sh_all
        group by shingle having count(*) <= {DEFAULT_MAX_SHINGLE_DF})
  using (shingle)
),
sizes as (select doc_id, count(*) as n from sh group by 1),
shared as (
  select a.doc_id as id_a, b.doc_id as id_b, count(*) as shared
  from sh a join sh b using (shingle)
  where a.doc_id < b.doc_id
  group by 1, 2
),
jacc as (
  select id_a, id_b,
         round(shared * 1.0 / (sa.n + sb.n - shared), 4) as jaccard
  from shared
  join sizes sa on sa.doc_id = id_a
  join sizes sb on sb.doc_id = id_b
)
"""

# Quality-scored documents CTE — ONE copy of the quality_score formula
# (operators/text_analysis.quality_score lockstep), shared by the q18,
# q36, and q44 oracles; drift between copies broke lockstep before.
_SCORED_CTE = r"""scored as (
  select doc_id, lang,
    round(least(n_tokens / 50.0, 1.0) * 0.4
      + least((stop_hits * 1.0 / greatest(n_tokens, 1)) * 5.0, 1.0) * 0.3
      + (case when nonspace * 1.0 / greatest(n_tokens, 1) between 3.0 and 8.0
              then 1.0 else 0.5 end) * 0.3, 4) as quality,
    n_tokens
  from (
    select doc_id, lang,
      case when length(trim(text)) = 0 then 0
           else len(regexp_split_to_array(trim(text), '\s+')) end as n_tokens,
      cast((length(padded) - length(replace(padded, ' the ', ''))) / 5
         + (length(padded) - length(replace(padded, ' and ', ''))) / 5
         + (length(padded) - length(replace(padded, ' of ', ''))) / 4
         + (length(padded) - length(replace(padded, ' to ', ''))) / 4 as bigint)
        as stop_hits,
      length(regexp_replace(text, '\s', '', 'g')) as nonspace
    from (select doc_id, lang, text, ' ' || lower(text) || ' ' as padded
          from documents)
  )
)"""
_QUALITY_SQL = f"with {_SCORED_CTE} select doc_id, quality from scored"
_FINGERPRINT_EXPR = "md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))"

_COS_EXPR = (
    "round(list_sum(list_transform(list_zip(a.embedding, b.embedding),"
    " x -> x[1]::DOUBLE * x[2]::DOUBLE))"
    " / (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))"
    " * sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE)))), {r})"
)


def _d2_dlist_sql(centroids: list) -> str:
    """Per-centroid rounded squared-L2 distances of ``embedding`` as a
    DuckDB list literal — the assignment half of ``ivf_assign``'s SQL
    twin, shared by the q26 IVF oracle and the q81 cluster-sampling
    oracle."""

    def dist(c: list) -> str:
        lit = "[" + ", ".join(repr(x) for x in c) + "]"
        return (
            "round(list_sum(list_transform(list_zip(embedding, " + lit + "), "
            "x -> (x[1]::DOUBLE - x[2]) * (x[1]::DOUBLE - x[2]))), 6)"
        )

    return ",\n    ".join(dist(c) for c in centroids)


def _lsh_bucket_duck() -> str:
    """Sign-LSH bucket expression over the ``embedding`` column for
    DuckDB, generated from the IDENTICAL deterministic plane literals
    the Spark plans embed (``lsh_planes()``) — ONE generator shared by
    the q64 oracle and the q65 loser CTE so the two can never drift
    (review r6; the Spark side shares ``_block_pair_search`` for the
    same reason)."""
    from ai_pdf_extraction_spark.operators.similarity import lsh_planes

    terms = []
    for i, plane in enumerate(lsh_planes()):
        lit = "[" + ", ".join(repr(x) for x in plane) + "]"
        terms.append(
            f"(case when list_sum(list_transform(list_zip(embedding, {lit}), "
            f"x -> x[1]::DOUBLE * x[2])) > 0 then {1 << i} else 0 end)"
        )
    return "(" + " + ".join(terms) + ")"


def _lm_agg_ctes(source_rel: str) -> tuple[str, str, str]:
    """The bigram-LM scoring chain (q76) as reusable CTE text over any
    ``(doc_id, text)`` relation: returns (ctes, cut_head, cut_mid)
    where ``ctes`` ends with ``agg(doc_id, n_tokens, lm_q_sum)``.
    Shared by the standalone q76 oracle and the v5 capstone's LM leg
    (q79) so both engines' model join + sum are literally one SQL."""
    bi_path, back_path, payload = _lm_model_parquets()
    oov = int(payload["oov_q"])
    ctes = f"""lm_toks as (
  select doc_id,
         list_transform(regexp_extract_all(text, '[A-Za-z0-9]+'),
                        x -> lower(x)) as ws
  from {source_rel}
),
lm_pairs as (
  select doc_id,
         unnest(list_zip(list_prepend('<s>', list_slice(ws, 1, len(ws)-1)),
                         ws)) as p
  from lm_toks where len(ws) > 0
),
lm_scored as (
  select t.doc_id, coalesce(b.q, k.q, {oov}) as q
  from (select doc_id, p[1] as prev, p[2] as w from lm_pairs) t
  left join read_parquet('{bi_path}') b on b.v = t.prev and b.w = t.w
  left join read_parquet('{back_path}') k on k.w = t.w
),
lm_agg as (
  select doc_id, count(*) as n_tokens, sum(q) as lm_q_sum
  from lm_scored group by doc_id
)"""
    return ctes, str(int(payload["cut_head_q"])), str(int(payload["cut_mid_q"]))


def _minhash_cte(k: int = 12, bands: int = 4) -> str:
    """Shingles + MinHash signature + banded LSH candidate CTEs, ending
    with ``cand(id_a, id_b)`` — shared by q22 and q45."""
    r = k // bands
    hashes = ", ".join(
        f"min(md5('{i}:' || shingle)) as h{i}" for i in range(k)
    )
    band_exprs = ", ".join(
        "md5(" + " || '|' || ".join(f"h{b * r + j}" for j in range(r)) + f") as band{b}"
        for b in range(bands)
    )
    bucket_list = ", ".join(f"'{b}#' || band{b}" for b in range(bands))
    return f"""{_SHINGLES_CTE},
sig as (select doc_id, {hashes} from sh group by doc_id),
banded as (select doc_id, {band_exprs} from sig),
stacked as (select doc_id, unnest([{bucket_list}]) as bucket from banded),
cand as (
  select distinct a.doc_id as id_a, b.doc_id as id_b
  from stacked a join stacked b using (bucket)
  where a.doc_id < b.doc_id
)"""


def _span_sql(marked_cte: str) -> str:
    """q67/q70 oracle scaffold: the span-removal rule of
    ``operators/span_dedup`` in DuckDB list algebra — stride-1 8-word
    gram md5s (lowercased match), a rule-specific ``marked(doc_id,
    start)`` CTE, spans merged at word-index granularity, surviving
    text = single-space join of unremoved words (byte-identical to the
    Spark reconstruction). Parallel ``unnest`` calls of equal-length
    lists zip positionally (documented DuckDB behavior) — that is what
    pairs each gram with its start offset. The words/body pieces are
    shared with the q73 capstone oracle (``_curate_v4_sql``)."""
    return f"""
with {_SPAN_DOCS_CTE.strip()},
words as ({_SPAN_WORDS_INNER}
),
{_span_body(marked_cte)}
select doc_id, n_words, n_removed, surviving_text from sp
"""


# span_dedup.WS_RE collapse-then-split rule over the docs2 relation:
# one explicit ASCII whitespace class, portable across Java regex /
# RE2 / Python re
_SPAN_WORDS_INNER = """
  select doc_id, case when t = '' then [] else string_split(t, ' ') end as w
  from (select doc_id,
               trim(regexp_replace(coalesce(text, ''),
                                   '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')) as t
        from docs2)"""


def _span_body(marked_cte: str) -> str:
    """CTE chain from an existing ``words(doc_id, w)`` relation to
    ``sp(doc_id, n_words, n_removed, surviving_text)``."""
    return f"""grams_arr as (
  select doc_id,
         [md5(lower(array_to_string(w[i+1:i+8], ' ')))
          for i in range(0, len(w) - 7)] as gs
  from words where len(w) >= 8
),
occ as (
  select doc_id, unnest(range(0, len(gs))) as start, unnest(gs) as g
  from grams_arr
),
{marked_cte},
ridx as (
  select distinct doc_id, idx
  from (select doc_id, unnest(range(start, start + 8)) as idx from marked)
),
ragg as (
  select doc_id, count(*) as n_removed, list(idx) as removed
  from ridx group by doc_id
),
sp as (
  select w.doc_id,
         len(w.w) as n_words,
         coalesce(r.n_removed, 0) as n_removed,
         coalesce(array_to_string([w.w[i+1] for i in range(0, len(w.w))
                                   if not list_contains(coalesce(r.removed, []), i)],
                                  ' '), '') as surviving_text
  from words w left join ragg r using (doc_id)
)"""


def _curate_v4_sql(fingerprint_expr: str) -> str:
    """q73 oracle: the v3 capstone re-rooted on the span-planted docs2
    relation (every ``from documents`` in the shared template becomes
    ``from docs2``), wrapped as a CTE, then the span-dedup chain runs
    over the SURVIVOR set only — the same composition as
    ``plans.curate.curated_corpus_v4``."""
    v3sql = _curate_v2_sql(
        fingerprint_expr,
        extra_cte=_emb_losers_cte(),
        extra_where="  and s.doc_id not in (select id_b from emb_losers)\n",
    )
    head, sep, tail = v3sql.rpartition("\nselect s.doc_id")
    assert sep, "v2 template final-select shape changed"
    ctes = head.strip()
    assert ctes.startswith("with ")
    ctes = ctes[len("with "):].replace("from documents", "from docs2")
    final_select = "select s.doc_id" + tail.rstrip()
    return f"""
with {_q73_docs_cte().strip()},
{ctes},
v3 as ({final_select}),
words as (
  select iw.doc_id, iw.w from ({_SPAN_WORDS_INNER}
  ) iw join v3 on iw.doc_id = v3.doc_id
),
{_span_body(_SPAN_DEDUP_MARKED)}
select v3.doc_id, v3.lang, v3.quality, v3.n_tokens, v3.n_granules, v3.n_kept,
       sp.n_words, sp.n_removed, md5(sp.surviving_text) as span_md5
from v3 join sp on v3.doc_id = sp.doc_id
"""


_SPAN_DEDUP_MARKED = """
firsts as (select g, min(doc_id) as fdoc from occ group by g),
firsts2 as (
  select occ.g, fdoc, min(start) as fstart
  from occ join firsts on occ.g = firsts.g and occ.doc_id = firsts.fdoc
  group by occ.g, fdoc
),
marked as (
  select occ.doc_id, occ.start from occ join firsts2 on occ.g = firsts2.g
  where occ.doc_id != firsts2.fdoc or occ.start != firsts2.fstart
)"""

def _emb_losers_cte(threshold: float = 0.45) -> str:
    """Bucketed embedding near-dup losers (the q64 composition) as a
    CTE fragment for the v3 capstone oracle — the bucket expression
    comes from the SAME generator as q64's oracle
    (``_lsh_bucket_duck``) and the cosine from ``_COS_EXPR``."""
    bucket = _lsh_bucket_duck()
    return f""",
embucketed as (
  select vec_id, embedding, {bucket} as bucket from embeddings
),
emb_losers as (
  select distinct id_b from (
    select b.vec_id as id_b, {_COS_EXPR.format(r=4)} as cos
    from embucketed a join embucketed b
      on a.vec_id < b.vec_id and a.bucket = b.bucket
  ) where cos >= {threshold}
)"""


def _curate_v2_sql(fingerprint_expr: str, extra_cte: str = "", extra_where: str = "") -> str:
    """One template for the v2/v3 capstone oracles: q57 is the base,
    q65 appends the bucketed embedding-loser CTE + filter — shared so
    the two can never diverge on the common legs."""
    return f"""
with {_minhash_cte()},
fp as (select doc_id, {fingerprint_expr} as fp from documents),
canon as (
  select doc_id from (
    select doc_id, min(doc_id) over (partition by fp) as canonical_id from fp
  ) where doc_id = canonical_id
),
near_losers as (
  select distinct cand.id_b as doc_id
  from cand join jacc on cand.id_a = jacc.id_a and cand.id_b = jacc.id_b
  where jacc.jaccard >= 0.8
),
{_SCORED_CTE},
cw as (select doc_id,
         regexp_split_to_array(lower(trim(text)), '\\s+') as cwords
       from documents),
cdoc as (
  select doc_id,
    unnest(list_distinct([array_to_string(cwords[i:i+2], ' ')
                          for i in range(1, len(cwords) - 1)])) as cshingle
  from cw
),
cbench as (select distinct cshingle from cdoc where doc_id % 50 = 0),
chits as (select distinct d.doc_id from cdoc d join cbench using (cshingle)),
gbase as (select doc_id,
            list_filter(string_split(text, '. '), x -> length(x) > 0) as garr
          from documents),
gg as (select doc_id, unnest(garr) as granule,
         unnest(range(1, len(garr) + 1)) as pos from gbase),
gwin as (select doc_id, granule, pos,
           row_number() over (partition by granule
                              order by doc_id, pos) as rn from gg),
gstat as (
  select b.doc_id, len(b.garr) as n_granules, coalesce(k.n_kept, 0) as n_kept
  from gbase b
  left join (select doc_id, count(*) as n_kept from gwin
             where rn = 1 group by doc_id) k using (doc_id)
){extra_cte}
select s.doc_id, s.lang, s.quality, s.n_tokens, g.n_granules, g.n_kept
from scored s
join canon using (doc_id)
join gstat g using (doc_id)
where s.doc_id not in (select doc_id from near_losers)
  and s.doc_id not in (select doc_id from chits)
{extra_where}  and s.quality >= 0.5
"""


def _dec5_sql(expr: str) -> str:
    """The five-entity XML decode as SQL text (``&amp;`` LAST — keep
    in lockstep with ``operators.urls._xml_decode`` / the q90
    oracle)."""
    return (
        f"replace(replace(replace(replace(replace({expr}, "
        "'&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), "
        "'&apos;', chr(39)), '&amp;', '&')"
    )


def _resolve_href_sql(base: str, href: str) -> str:
    """DuckDB twin of ``operators.links.resolve_href`` (same four
    legs, same drop rules, NULL for non-navigational) — drop/absolute
    regexes SPLICED from the operator's own constants so adding a
    scheme updates both engines."""
    from ai_pdf_extraction_spark.operators.links import (
        ABS_URL_RE,
        SKIP_SCHEME_RE,
    )

    origin = (
        f"regexp_extract({base}, "
        "'^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*)', 1)"
    )
    scheme = f"regexp_extract({base}, '^([a-zA-Z][a-zA-Z0-9+.-]*):', 1)"
    base_noq = f"regexp_replace({base}, '[?#].*$', '', 'g')"
    basedir = (
        f"(case when regexp_matches({base_noq}, "
        "'^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*/') "
        f"then regexp_extract({base_noq}, '^(.*/)', 1) "
        f"else {origin} || '/' end)"
    )
    return f"""case
      when {href} = '' or {href} like '#%'
           or regexp_matches({href}, '{SKIP_SCHEME_RE}')
        then null
      when regexp_matches({href}, '{ABS_URL_RE}')
        then {href}
      when {href} like '//%' then {scheme} || ':' || {href}
      when {href} like '/%' then {origin} || {href}
      else {basedir} || {href}
    end"""


def _regdomain_sql(host_expr: str) -> str:
    """DuckDB twin of ``operators.urls.registered_domain``, rebuilt
    from the operator's own :data:`MULTI_SUFFIXES` tuple so the two
    sides cannot silently desync. ``host_expr`` must be a bare column
    reference (it is spliced several times)."""
    from ai_pdf_extraction_spark.operators.urls import MULTI_SUFFIXES

    sufs = ", ".join(f"'{s}'" for s in MULTI_SUFFIXES)
    h = f"regexp_replace(lower({host_expr}), ':[0-9]+$', '')"
    lbl = f"string_split({h}, '.')"
    n = f"len({lbl})"
    last2 = f"array_to_string({lbl}[{n} - 1 : {n}], '.')"
    last3 = f"array_to_string({lbl}[{n} - 2 : {n}], '.')"
    ipv4 = f"regexp_matches({h}, '^[0-9]{{1,3}}(\\.[0-9]{{1,3}}){{3}}$')"
    return (
        f"(case when {ipv4} then {h} "
        f"when {n} <= 2 then {h} "
        f"when {last2} in ({sufs}) then {last3} "
        f"else {last2} end)"
    )


_Q99_PAGES_SQL = """select doc_id,
  'http://www.site' || (doc_id % 13)::varchar
    || '.example.co.uk/dir/' || doc_id::varchar || '.html' as url,
  '<html><body><a href="http://site' || ((doc_id * 7 + 3) % 13)::varchar
    || '.example.com/abs/' || (doc_id % 211)::varchar
    || '?utm_source=f&amp;ref=1">Read ' || (doc_id % 5)::varchar
    || '</a><a href="//cdn' || (doc_id % 3)::varchar
    || '.example.net/lib">  CDN <b>asset</b> </a>'
    || case when doc_id % 4 = 0 then '<a href="#top">skip</a>'
         else '<a href="/cat/' || (doc_id % 97)::varchar
              || '">Category</a>' end
    || case when doc_id % 5 = 0
         then '<a href="mailto:x@example.com">mail</a>'
         else '<a href="item' || (doc_id % 11)::varchar
              || '.html">Item</a>' end
    || case when doc_id % 6 = 0
         then '<a href="javascript:void(0)">js</a>' else '' end
    || '<a name="x">no href</a></body></html>' as html
from documents"""


def _q99_outlink_ctes() -> str:
    """The q99 oracle as reusable CTE text ending in
    ``olinks(src_url, dst_url, anchor)`` — shared by the q99/q100
    contracts and q103's extracted host graph. Anchor cleanup order
    matches ``links._clean_anchor``: strip tags FIRST, then decode,
    then collapse whitespace, then (space-only) trim."""
    from ai_pdf_extraction_spark.operators.links import ANCHOR_RE

    anchor_clean = (
        "trim(regexp_replace("
        + _dec5_sql("regexp_replace(text0, '<[^>]*>', '', 'g')")
        + r", '[ \t\r\n\f]+', ' ', 'g'))"
    )
    return f"""pages as ({_Q99_PAGES_SQL}),
m as (select url as src_url,
        regexp_extract_all(html, '{ANCHOR_RE}', 1) as hrefs,
        regexp_extract_all(html, '{ANCHOR_RE}', 2) as texts
      from pages),
zz as (select src_url, unnest(hrefs) as href0, unnest(texts) as text0
       from m),
decd as (select src_url, {_dec5_sql('href0')} as href,
        {anchor_clean} as anchor from zz),
res as (select src_url, anchor,
        {_resolve_href_sql('src_url', 'href')} as resolved from decd),
keep as (select * from res where resolved is not null),
raw as (select distinct 0::bigint as event_id, resolved as raw_url
        from keep),
{_URL_CANON_CHAIN_SQL},
cmap as (select raw_url, {_URL_CANON_FINAL_SQL} as canon_url from s5),
olinks as (select k.src_url, c.canon_url as dst_url, k.anchor
           from keep k join cmap c on k.resolved = c.raw_url)"""


_HOST_EXTRACT_SQL = "'^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?]*)', 1"



def _q113_resolution_ctes(max_hops: int = 5) -> str:
    """The q113 oracle as reusable CTE text: the synthesized fetch
    log + redirect map walked ``max_hops`` GENERATED rounds (one
    template, not copy-paste — editing the hop expression or the
    budget cannot desynchronize the rounds from
    ``resolve_redirects``), ending in ``res(start_url, final_url,
    n_hops, status)`` — shared by the q113 contract and q114's
    final-url collapse."""
    hops = ",\n".join(
        f"""h{i} as (
  select h.start_url,
    coalesce(r.dst, h.cur) as cur,
    h.hops + case when r.dst is not null then 1 else 0 end as hops,
    (h.looped or (r.dst is not null
                  and list_contains(h.visited, r.dst))) as looped,
    case when r.dst is not null then list_append(h.visited, r.dst)
         else h.visited end as visited
  from h{i - 1} h left join red r on h.cur = r.src
)"""
        for i in range(1, max_hops + 1)
    )
    return (
        "nn as (select distinct (event_id % 499) as n from events),\nstarts as (\n  select 'http://r.example.com/u/' || n::varchar as url from nn\n),\nrn as (select n from nn where n % 5 = 1),\nred as (\n  select 'http://r.example.com/u/' || n::varchar as src,\n    'http://r.example.com/u/' ||\n    (case when n = 11 then 31 when n = 31 then 11\n          when n = 21 then 10007\n          when n between 41 and 66 then n + 5\n          else (3 * n + 1) % 499 end)::varchar as dst\n  from rn\n),\nh0 as (select url as start_url, url as cur, 0::bigint as hops,\n       false as looped, [url] as visited from starts),\n"
        + hops
        + ",\n"
        + "fin as (\n  select h.start_url, h.cur as final_url, h.hops as n_hops, h.looped,\n    (r.dst is not null) as pending\n  from h5 h left join red r on h.cur = r.src\n),\nres as (\n  select f.start_url, f.final_url, f.n_hops,\n  case when f.looped then 'loop'\n       when f.pending then 'too_many_hops'\n       when f.n_hops > 0 and s.url is null then 'dangling'\n       else 'ok' end as status\nfrom fin f left join starts s on f.final_url = s.url\n)".replace("from h5 h", f"from h{max_hops} h")
    )

