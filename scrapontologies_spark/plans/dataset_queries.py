"""Driver-contract entries for the training-data pipeline operators
(dedup / similarity / text analysis) plus analytical benchmarks (TPC-H-ish
aggregation/join shapes) — each with a value-exact DuckDB oracle.

Cross-engine determinism rules used throughout:
- the only hash primitive is md5 (identical hex in Spark and DuckDB);
- token splits are single-space ``split(text, ' ')`` unless stated;
- double ratios keep a fixed operand order; sums over floats are rounded
  before comparison (order-of-addition differs between engines).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup, similarity, textops

Q = dict[str, Callable[[SparkSession, str], DataFrame]]

# single shared readers (driver_helpers) — driver_queries uses the same ones
from .driver_helpers import docs_table as _docs  # noqa: E402
from .driver_helpers import events_table as _events  # noqa: E402
from .driver_helpers import emb_table as _emb  # noqa: E402


# the shared shingle CTE (k=3 over single-space tokens), mirrored by
# dedup.shingles
_SH_CTE = """
sh AS (
  SELECT DISTINCT doc_id, unnest(grams) AS shingle
  FROM (
    SELECT doc_id,
           [array_to_string(t[i:i+2], ' ') FOR i IN range(1, len(t) - 1)] AS grams
    FROM (SELECT doc_id, str_split(text, ' ') AS t FROM documents)
  )
)
"""


def queries() -> Q:
    q: Q = {}

    # --- dedup ---------------------------------------------------------------
    q["dedup_exact"] = lambda spark, d: dedup.exact_dedup(_docs(spark, d))

    # distinct=False: min() is multiset-invariant, so the signature paths
    # skip the (doc, shingle) distinct shuffle entirely — one map-side-
    # combining aggregation from scan to signatures
    q["dedup_minhash_signatures"] = lambda spark, d: dedup.minhash_signatures(
        dedup.shingles(_docs(spark, d), distinct=False), num_hashes=4
    )

    q["dedup_lsh_candidates"] = lambda spark, d: dedup.lsh_candidate_pairs(
        dedup.minhash_signatures(
            dedup.shingles(_docs(spark, d), distinct=False), num_hashes=8
        ),
        num_hashes=8,
        band_size=2,
    )

    q["dedup_ngram_jaccard"] = lambda spark, d: dedup.ngram_jaccard_pairs(
        _docs(spark, d), threshold=0.2
    ).select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))

    q["dedup_simhash"] = lambda spark, d: dedup.simhash(_docs(spark, d), bits=16)

    # signature-only jaccard estimate over LSH candidates (no shingle join)
    def mh_estimate(spark, d):
        # signatures-only path → multiset shingles suffice (no distinct)
        sh = dedup.shingles(_docs(spark, d), distinct=False)
        sigs = dedup.minhash_signatures(sh, num_hashes=8)
        cand = dedup.lsh_candidate_pairs(sigs, 8, 2)
        return dedup.minhash_jaccard_estimate(sigs, cand, num_hashes=8)

    q["dedup_minhash_estimate"] = mh_estimate

    # near-dup pairs → transitive clusters → canonical keeper per cluster
    def _jaccard_pairs(docs):
        # the ONE pair generator both clustering entries stand on — a
        # threshold/generator change moves them (and their factored
        # oracle chain) together
        return dedup.ngram_jaccard_pairs(docs, threshold=0.5).select(
            "doc_a", "doc_b"
        )

    def clusters_q(spark, d):
        docs = _docs(spark, d)
        return dedup.duplicate_clusters(docs, _jaccard_pairs(docs))

    q["dedup_clusters"] = clusters_q

    def keep_canonical_q(spark, d):
        docs = _docs(spark, d)
        return dedup.keep_canonical(docs, _jaccard_pairs(docs))

    q["dedup_keep_canonical"] = keep_canonical_q

    # exact variant (SQL-checkable); the lsh_tables>0 scale path shares the
    # scoring expression and is exercised in tests
    q["dedup_embedding_cosine"] = lambda spark, d: dedup.embedding_near_dup_pairs(
        _emb(spark, d), threshold=0.4
    )

    # the lsh_tables>0 SCALE path — deterministically approximate (md5
    # sign-LSH planes), so the oracle replicates the same neardup{t}
    # buckets and the result is value-checked like the exact path
    q["dedup_embedding_cosine_lsh"] = lambda spark, d: dedup.embedding_near_dup_pairs(
        _emb(spark, d), threshold=0.4, lsh_tables=4, lsh_planes=4
    )

    # --- similarity ----------------------------------------------------------
    def sim_topk(spark, d):
        emb = _emb(spark, d)
        return similarity.cosine_topk_bruteforce(
            emb, emb.filter(F.col("vec_id") < 5), k=3
        ).select(
            "query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank"
        )

    q["sim_cosine_topk"] = sim_topk

    # approximate — but DETERMINISTICALLY approximate, so the oracle
    # replicates the same sign-LSH buckets (see _lsh_bucket_sql) and the
    # result is value-checked like the exact path
    q["sim_cosine_topk_lsh"] = lambda spark, d: similarity.cosine_topk_lsh(
        _emb(spark, d), k=3, n_planes=4, n_tables=8
    ).select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank")

    # the IVF scale path: md5-sampled codebook, top-1 cell assignment,
    # n_probe nearest cells per query — also deterministically approximate
    def sim_ivf(spark, d):
        emb = _emb(spark, d)
        return similarity.cosine_topk_ivf(
            emb, emb.filter(F.col("vec_id") < 5), k=3, k_cells=16, n_probe=4
        ).select(
            "query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank"
        )

    q["sim_cosine_topk_ivf"] = sim_ivf

    # --- text analysis ---------------------------------------------------------
    q["text_lang_id"] = lambda spark, d: textops.language_id(_docs(spark, d))
    q["text_token_stats"] = lambda spark, d: textops.token_stats(_docs(spark, d))
    q["text_quality"] = lambda spark, d: textops.quality_score(_docs(spark, d)).select(
        "doc_id",
        "n_chars_measured",
        "n_tokens",
        F.round("punct_ratio", 6).alias("punct_ratio"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
        F.round("mean_word_len", 6).alias("mean_word_len"),
    )
    q["text_fingerprint"] = lambda spark, d: textops.fingerprint(_docs(spark, d))

    # Gopher-style repetition signals (explode → two map-side-combining aggs)
    q["text_repetition"] = lambda spark, d: textops.repetition_stats(
        _docs(spark, d)
    ).select(
        "doc_id",
        "n_tokens",
        F.round("top_unigram_frac", 6).alias("top_unigram_frac"),
        F.round("repeated_token_frac", 6).alias("repeated_token_frac"),
        F.round("top_bigram_frac", 6).alias("top_bigram_frac"),
    )

    # benchmark decontamination: eval set = doc_id % 97 == 0 (deterministic
    # holdout); training docs sharing any token 5-gram with it are flagged.
    # Eval gram set broadcast; the only shuffle is the per-doc distinct.
    def decontam_q(spark, d):
        docs = _docs(spark, d)
        return textops.decontaminate(
            docs.filter(F.col("doc_id") % 97 != 0),
            docs.filter(F.col("doc_id") % 97 == 0),
            ngram=5,
        )

    q["text_decontaminate"] = decontam_q

    # composed quality gate: all narrow signals in ONE projection, one
    # co-partitioned join with the repetition aggregates, boolean keep
    q["text_keep_filter"] = lambda spark, d: textops.keep_filter(
        _docs(spark, d),
        allowed_langs=("en",),
        min_tokens=30,
        max_top_unigram_frac=0.12,
        max_repeated_token_frac=0.85,
    ).select(
        "doc_id",
        "pred_lang",
        "n_tokens",
        F.round("punct_ratio", 6).alias("punct_ratio"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
        F.round("top_unigram_frac", 6).alias("top_unigram_frac"),
        F.round("repeated_token_frac", 6).alias("repeated_token_frac"),
        "keep",
    )

    # corpus vocabulary: top-50 tokens by occurrence, doc frequency
    q["text_vocabulary"] = lambda spark, d: textops.vocabulary(
        _docs(spark, d), top_k=50
    )

    # per-(doc, token) TF-IDF; df_t and N over the FULL corpus, output
    # restricted to doc_id < 100 to keep the contract compare small
    q["text_tf_idf"] = lambda spark, d: textops.tf_idf(_docs(spark, d)).filter(
        F.col("doc_id") < 100
    )

    # PII scrub — deterministic synthetic PII appended per doc so the
    # patterns actually fire (the prose corpus itself carries none); both
    # engines concat the identical strings
    def redact_q(spark, d):
        docs = _docs(spark, d).withColumn(
            "text",
            F.concat(
                F.col("text"),
                F.lit(" reach user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com via 10.0."),
                (F.col("doc_id") % 250).cast("string"),
                F.lit(".7 or +1 555 010 "),
                (F.col("doc_id") % 10000).cast("string"),
            ),
        )
        return textops.redact_pii(docs)

    q["text_redact_pii"] = redact_q

    # --- time joins over events ------------------------------------------------
    # backward as-of join: every event → its user's most recent prior
    # purchase (ties at equal ts match; -1 sentinels keep the columns
    # int64 on both engines — nullable BIGINT → float64 in pandas)
    def asof_q(spark, d):
        from ..operators.events import asof_join

        ev = _events(spark, d)
        res = asof_join(
            ev.select("event_id", "user_id", "ts"),
            ev.filter(F.col("event_type") == "purchase"),
            right_value_cols=("event_id", "ts"),
        )
        return res.select(
            "event_id",
            "user_id",
            F.coalesce("prior_event_id", F.lit(-1)).alias("prior_purchase_id"),
            F.coalesce(
                F.unix_micros(F.col("ts").cast("timestamp"))
                - F.unix_micros(F.col("prior_ts").cast("timestamp")),
                F.lit(-1),
            ).alias("us_since_purchase"),
        )

    q["events_asof_purchase"] = asof_q

    # forward as-of join: every event → its user's next purchase at-or-after
    # the event (merge_asof direction="forward" parity; same union+window
    # single-shuffle plan with the sort flipped)
    def asof_fwd_q(spark, d):
        from ..operators.events import asof_join

        ev = _events(spark, d)
        res = asof_join(
            ev.select("event_id", "user_id", "ts"),
            ev.filter(F.col("event_type") == "purchase"),
            right_value_cols=("event_id", "ts"),
            prefix="next_",
            direction="forward",
        )
        return res.select(
            "event_id",
            "user_id",
            F.coalesce("next_event_id", F.lit(-1)).alias("next_purchase_id"),
            F.coalesce(
                F.unix_micros(F.col("next_ts").cast("timestamp"))
                - F.unix_micros(F.col("ts").cast("timestamp")),
                F.lit(-1),
            ).alias("us_until_purchase"),
        )

    q["events_asof_forward"] = asof_fwd_q

    # containment range join: events ⨝ their own user's sessions — the
    # Spark side runs the bucketized interval_join; the oracle derives the
    # same assignment independently from the sessionize window
    def interval_q(spark, d):
        from ..operators.events import interval_join, sessionize

        ev = _events(spark, d)
        sess = sessionize(ev, gap_minutes=30).select(
            "user_id", "session_idx", "session_start", "session_end"
        )
        return interval_join(
            ev.select("user_id", "event_id", "ts"), sess, bucket_hours=24
        ).select("user_id", "event_id", "session_idx")

    q["events_interval_sessions"] = interval_q

    # --- multimodal plumbing (binary payload columns over documents) ----------
    # payload = utf-8 bytes of text; base64 + byte-length are the S2-parity
    # kernels (multimodal.py) and are value-exact in DuckDB.
    q["mm_base64_payload"] = lambda spark, d: (
        _docs(spark, d)
        .select(
            "doc_id",
            # Spark's base64 may emit MIME-chunked output (76-char lines,
            # CRLF); strip the wrapping for the canonical unchunked form
            F.regexp_replace(
                F.base64(F.col("text").cast("binary")), "[\\r\\n]", ""
            ).alias("payload_b64"),
            F.octet_length(F.col("text")).cast("long").alias("n_bytes"),
        )
        .filter(F.col("doc_id") < 200)
    )

    # frame-sampling plumbing: one row per sampled "timestamp" (duration
    # stand-in = n_chars), mirroring multimodal.frame_sample's explode shape
    q["mm_frame_sample"] = lambda spark, d: (
        _docs(spark, d)
        .filter(F.col("doc_id") < 50)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(0), F.col("n_chars").cast("int"), F.lit(500))
            ).alias("_ts"),
        )
        .select("doc_id", F.col("_ts").cast("long").alias("frame_ts"))
    )

    # --- P2/P3 — fence extraction variants (SURVEY §2.2/§2.6) -----------------
    q["p2_python_fence"] = lambda spark, d: (
        _events(spark, d)
        .select(
            "event_id",
            # coalesce: NULL props must yield '' like the oracle's COALESCE
            F.coalesce(
                F.regexp_extract(
                    F.concat(F.lit("```python x = "), F.col("props"), F.lit(" ```")),
                    r"```python\s*([\s\S]*?)\s*```",
                    1,
                ),
                F.lit(""),
            ).alias("code"),
        )
        .filter(F.col("event_id") < 100)
    )

    # the strip('```json').strip('```') char-set quirk (semantics.strip_fences)
    q["p3_strip_fences"] = lambda spark, d: (
        _events(spark, d)
        .select(
            "event_id",
            F.btrim(
                F.btrim(F.concat(F.lit("```json"), F.col("props"), F.lit("```"))),
                F.lit("`json"),
            ).alias("stripped"),
        )
        .filter(F.col("event_id") < 100)
    )

    # --- C2 — delete relation by composite (source, target, name) key ---------
    def c2(spark, d):
        orders = spark.read.parquet(f"{d}/orders.parquet")
        rels = orders.select(
            F.col("o_custkey").alias("source"),
            F.col("o_orderkey").alias("target"),
            F.col("o_orderpriority").alias("name"),
        )
        doomed = rels.filter(F.col("target") % 97 == 0).select(
            "source", "target", "name"
        )
        return rels.join(
            F.broadcast(doomed), ["source", "target", "name"], "left_anti"
        )

    q["c2_delete_relation_composite"] = c2

    # --- J1/M6 — full reconcile with A1 attribute merge (value-exact) ---------
    def reconcile_q(spark, d):
        from ..operators.link import reconcile

        docs = _docs(spark, d)
        existing = docs.filter(F.col("doc_id") < 300).select(
            F.col("doc_id").cast("string").alias("id"),
            F.lit("doc").alias("type"),
            F.concat(F.lit('{"lang":"'), F.col("lang"), F.lit('"}')).alias(
                "attributes"
            ),
        )
        new = docs.filter(F.col("doc_id") >= 200).select(
            F.col("doc_id").cast("string").alias("id"),
            F.lit("doc").alias("type"),
            F.concat(F.lit('{"src":"'), F.col("source"), F.lit('"}')).alias(
                "attributes"
            ),
        )
        return reconcile(existing, new)

    q["j1_reconcile_merge"] = reconcile_q

    # --- K1 — schema → 3NF DDL (data-conditioned DuckDB oracle) ----------------
    def ddl_q(spark, d):
        from ..operators.ddl import schema_to_tables, tables_to_ddl
        from ..operators.schema_merge import corpus_global_schema
        from .driver_helpers import documents_as_corpus

        # through the ENGINE: distributed extraction + A5 global reduce
        # (never a driver-side collect of documents) — M3 is associative,
        # so union-of-per-doc == union-of-per-chunk digests
        corpus = documents_as_corpus(spark, d).filter(
            F.regexp_extract("path", r"doc_(\d+)", 1).cast("int") < 20
        )
        g = corpus_global_schema(corpus, 1024)
        tables = schema_to_tables({"properties": {"doc": g}})
        stmts = tables_to_ddl(tables, using="iceberg")
        return spark.createDataFrame(
            [(t.name, s) for t, s in zip(tables, stmts)],
            "table_name string, ddl string",
        )

    q["k1_schema_to_ddl"] = ddl_q

    # --- connected components (recursive-CTE oracle!) -------------------------
    def cc_components(spark, d):
        """Per-source doc chains (doc → next doc in the same source) — long
        paths, so convergence genuinely takes multiple LS/SS rounds; the
        expected result is trivially min(doc_id) per source."""
        from pyspark.sql.window import Window

        from ..operators.cc import connected_components

        w = Window.partitionBy("source").orderBy("doc_id")
        edges = (
            _docs(spark, d)
            .select("doc_id", "source")
            .withColumn("v", F.lead("doc_id").over(w))
            .filter(F.col("v").isNotNull())
            .select(F.col("doc_id").alias("u"), "v")
        )
        return connected_components(edges).select("node", "component")

    q["cc_components"] = cc_components

    # --- deterministic sampling / corpus mixing -------------------------------
    def sample_q(spark, d):
        from ..operators.sampling import sample_stratified

        return sample_stratified(
            _docs(spark, d),
            {"src0": 1.0, "src1": 0.5, "src2": 0.25},
            default_rate=0.1,
        ).select("doc_id", "source")

    q["sample_stratified"] = sample_q

    # deterministic sequence packing: docs → fixed-capacity training bins
    def pack_q(spark, d):
        from ..operators.sampling import pack_sequences

        return pack_sequences(_docs(spark, d), capacity=4096).select(
            "doc_id", "source", "pack_id", "pack_offset"
        )

    q["pack_sequences"] = pack_q

    # --- graph analytics over the KG edge table -------------------------------
    def pagerank_q(spark, d):
        """Fixed-iteration PageRank over the doc→term mention graph (the
        bipartite slice of the KG: module --mentions--> term::t edges)."""
        from ..operators.graph import pagerank

        from ..functions.code_gazetteer import TEXT_TERMS

        docs = _docs(spark, d)
        # token-split term match (engine-agnostic; see textops._count_markers)
        edges = docs.select(
            F.concat(F.lit("doc:"), F.col("doc_id").cast("string")).alias("src"),
            F.explode(
                textops.ascii_word_tokens_in(F.col("text"), TEXT_TERMS)
            ).alias("t"),
        ).select("src", F.concat(F.lit("term::"), F.col("t")).alias("dst"))
        return pagerank(edges, iters=5).select(
            "node", F.round("rank", 6).alias("rank")
        )

    q["graph_pagerank_mentions"] = pagerank_q

    # --- analytical benchmark shapes ------------------------------------------
    def tpch_q1(spark, d):
        li = spark.read.parquet(f"{d}/lineitem.parquet")
        return (
            li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                F.round(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
                ).alias("sum_disc_price"),
                F.round(F.avg("l_discount"), 6).alias("avg_disc"),
                F.count("*").alias("count_order"),
            )
        )

    q["tpch_q1_pricing_summary"] = tpch_q1

    def tpch_q3(spark, d):
        cust = spark.read.parquet(f"{d}/customer.parquet").filter(
            F.col("c_mktsegment") == "BUILDING"
        )
        orders = spark.read.parquet(f"{d}/orders.parquet").filter(
            F.col("o_orderdate") < F.lit("1995-03-15")
        )
        li = spark.read.parquet(f"{d}/lineitem.parquet").filter(
            F.col("l_shipdate") > F.lit("1995-03-15")
        )
        return (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
            .agg(
                F.round(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
                ).alias("revenue")
            )
            .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
            .limit(10)
        )

    q["tpch_q3_shipping_priority"] = tpch_q3

    def tpch_q6(spark, d):
        # highly selective scan-aggregate: every predicate must reach the
        # parquet reader as PushedFilters (asserted in test_plan_quality)
        li = spark.read.parquet(f"{d}/lineitem.parquet")
        return (
            li.filter(
                (F.col("l_shipdate") >= F.lit("1996-01-01"))
                & (F.col("l_shipdate") < F.lit("1997-01-01"))
                & (F.col("l_discount") >= 0.05)
                & (F.col("l_discount") <= 0.07)
                & (F.col("l_quantity") < 24)
            )
            .agg(
                F.round(
                    F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2
                ).alias("revenue"),
                F.count("*").alias("n_rows"),
            )
        )

    q["tpch_q6_forecast_revenue"] = tpch_q6

    def events_rollup(spark, d):
        ev = _events(spark, d)
        return ev.groupBy("user_id", "event_type").agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )

    q["events_user_rollup"] = events_rollup

    def events_hourly(spark, d):
        # tumbling 1-hour buckets — the batch twin of a streaming windowed
        # aggregation (readStream → window(ts,'1 hour') → agg); one shuffle,
        # map-side partial aggregation
        ev = _events(spark, d)
        return ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour_bucket"), "event_type"
        ).agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )

    q["events_hourly_rollup"] = events_hourly

    def events_sessions(spark, d):
        from ..operators.events import sessionize

        return sessionize(_events(spark, d), gap_minutes=30)

    q["events_sessionize"] = events_sessions

    return q


def _cos_sql(a: str, b: str) -> str:
    """Sequential float64 cosine of two array columns — Spark's
    _dot(a,b)/(_norm(a)*_norm(b)) fold, operand order preserved — with the
    engine's corrupted-row contract made explicit: a NULL ELEMENT inside
    either array yields NULL (Spark's fold propagates it, but DuckDB's
    list_aggregate SKIPS nulls and would score the damaged vector as if
    whole), and a NaN cosine (NaN/Inf components) also yields NULL
    (mirroring operators.similarity.nan_to_null — NaN sorts ABOVE every
    number in DESC in both engines, so it must not reach a ranking)."""
    raw = (
        f"list_aggregate([{a}[i]::DOUBLE * {b}[i]::DOUBLE "
        f"FOR i IN range(1, len({a}) + 1)], 'sum')"
        f" / ( sqrt(list_aggregate([x::DOUBLE * x::DOUBLE FOR x IN {a}], 'sum'))"
        f" * sqrt(list_aggregate([x::DOUBLE * x::DOUBLE FOR x IN {b}], 'sum')) )"
    )
    return (
        f"CASE WHEN len(list_filter({a}, x -> x IS NULL)) > 0"
        f" OR len(list_filter({b}, x -> x IS NULL)) > 0"
        f" OR isnan({raw}) THEN NULL ELSE {raw} END"
    )


def _ivf_topk_sql(k: int = 3, k_cells: int = 16, n_probe: int = 4) -> str:
    """Oracle replica of similarity.cosine_topk_ivf: same md5-sampled
    codebook, same top-1 assignment and n_probe probing tie-breaks, same
    sequential-cosine scoring."""
    return f"""
        WITH cents AS (
          SELECT vec_id AS cell, embedding AS cvec
          FROM embeddings
          ORDER BY md5(vec_id::VARCHAR || '#ivf') LIMIT {k_cells}
        ),
        assign AS (
          SELECT vec_id, cell FROM (
            SELECT v.vec_id, c.cell,
                   row_number() OVER (
                     PARTITION BY v.vec_id
                     ORDER BY {_cos_sql("v.embedding", "c.cvec")} DESC, c.cell ASC
                   ) AS rn
            FROM embeddings v, cents c
          ) WHERE rn = 1
        ),
        probes AS (
          SELECT query_id, cell FROM (
            SELECT q.vec_id AS query_id, c.cell,
                   row_number() OVER (
                     PARTITION BY q.vec_id
                     ORDER BY {_cos_sql("q.embedding", "c.cvec")} DESC, c.cell ASC
                   ) AS rn
            FROM embeddings q, cents c WHERE q.vec_id < 5
          ) WHERE rn <= {n_probe}
        ),
        cand AS (
          SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
          FROM probes p JOIN assign a USING (cell)
          WHERE a.vec_id <> p.query_id
        ),
        scored AS (
          SELECT c.query_id, c.neighbor_id,
                 {_cos_sql("q.embedding", "e.embedding")} AS cos_raw
          FROM cand c
          JOIN embeddings q ON q.vec_id = c.query_id
          JOIN embeddings e ON e.vec_id = c.neighbor_id
        ),
        ranked AS (
          SELECT query_id, neighbor_id, cos_raw,
                 row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY cos_raw DESC, neighbor_id ASC
                 ) AS rank
          -- filter BEFORE ranking (mirrors the engine's cosine-IS-NOT-NULL
          -- filter): a NULL-cosine candidate must not consume a rank slot
          FROM scored WHERE cos_raw IS NOT NULL
        )
        SELECT query_id, neighbor_id, round(cos_raw, 6) AS cosine, rank
        FROM ranked WHERE rank <= {k}
    """


def _pagerank_sql(iters: int = 5, damping: float = 0.85) -> str:
    """Unrolled fixed-iteration PageRank oracle — one chained CTE per
    iteration, the exact formula of operators/graph.pagerank (no-
    redistribution dangling variant, rank_0 = 1.0)."""
    pattern = "\\b(join|scan|hash|sort|merge|filter|group|window|agg|batch|stream|query)\\b"
    parts = [
        f"""
        edges AS (
          SELECT DISTINCT 'doc:' || doc_id AS src, 'term::' || term AS dst
          FROM (
            SELECT doc_id,
                   unnest(regexp_extract_all(text, '{pattern}', 1)) AS term
            FROM documents
          )
        ),
        nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
        pr0 AS (SELECT node, 1.0::DOUBLE AS rank FROM nodes)"""
    ]
    for k in range(1, iters + 1):
        parts.append(
            f"""
        pr{k} AS (
          SELECT n.node,
                 {1.0 - damping} + {damping} * COALESCE(c.s, 0.0) AS rank
          FROM nodes n LEFT JOIN (
            SELECT e.dst AS node, sum(p.rank / d.deg) AS s
            FROM pr{k - 1} p
            JOIN edges e ON e.src = p.node
            JOIN deg d ON d.src = e.src
            GROUP BY e.dst
          ) c USING (node)
        )"""
        )
    return (
        "WITH " + ",".join(parts)
        + f"\n        SELECT node, round(rank, 6) AS rank FROM pr{iters}"
    )


def _lsh_bucket_sql(
    n_planes: int,
    n_tables: int,
    dim: int,
    seed_fmt: str = "lsh{t}",
    prefix_fmt: str = "{t}|",
) -> str:
    """Per-table bucket SELECTs replicating the operators' sign-LSH via
    the SAME half-sum identity the Arrow kernel uses
    (similarity._bucket_keys_pdf): proj = 2·Σ_{w=+1} x_i − Σ x_i with the
    SAME md5-derived positive-index sets and the same sequential float64
    op order, so Spark and DuckDB compute identical buckets.  seed/prefix
    formats select the family: cosine_topk_lsh uses ("lsh{t}", "{t}|"),
    embedding_near_dup_pairs uses ("neardup{t}", "{t}#")."""
    from ..operators.similarity import _plane_signs

    total = "list_aggregate([x::DOUBLE FOR x IN embedding], 'sum')"
    selects = []
    for t in range(n_tables):
        bits = []
        for p in range(n_planes):
            pos = [
                i + 1
                for i, s in enumerate(_plane_signs(seed_fmt.format(t=t), p, dim))
                if s > 0
            ]
            if pos:
                idx = "[" + ",".join(str(i) for i in pos) + "]"
                ps = f"list_aggregate([embedding[i]::DOUBLE FOR i IN {idx}], 'sum')"
            else:
                ps = "0.0"
            bits.append(f"CASE WHEN 2.0 * {ps} - vs >= 0 THEN '1' ELSE '0' END")
        prefix = prefix_fmt.format(t=t)
        selects.append(
            f"SELECT vec_id, '{prefix}' || " + " || ".join(bits)
            + f" AS bucket FROM (SELECT vec_id, embedding, {total} AS vs FROM embeddings)"
        )
    return "\n              UNION ALL\n              ".join(selects)


def oracle_sql() -> dict[str, str]:
    sig = lambda i: f"min(md5(shingle || '#{i}')) AS sig_{i}"
    bands8 = "\n      UNION ALL\n".join(
        f"SELECT doc_id, {b} AS band_idx, md5(sig_{2*b} || '|' || sig_{2*b+1}) AS band_key FROM sigs"
        for b in range(4)
    )
    # sigs → LSH bands → candidate pairs → exact Jaccard ≥ 0.5 → symmetric
    # closure reach(node, lab): the ONE pair/closure construction that
    # dedup_clusters and dedup_keep_canonical both stand on — factored so
    # a threshold/band change cannot desynchronize the two oracles
    jaccard_closure = f"""sigs AS (
              SELECT doc_id, {", ".join(sig(i) for i in range(8))}
              FROM sh GROUP BY doc_id
            ),
            bands AS (
              {bands8}
            ),
            cand AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM bands a JOIN bands b
                ON a.band_idx = b.band_idx AND a.band_key = b.band_key
              WHERE a.doc_id < b.doc_id
            ),
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
            inter AS (
              SELECT c.doc_a, c.doc_b, count(*) AS n_inter
              FROM cand c
              JOIN sh a ON a.doc_id = c.doc_a
              JOIN sh b ON b.doc_id = c.doc_b AND a.shingle = b.shingle
              GROUP BY c.doc_a, c.doc_b
            ),
            pairs AS (
              SELECT doc_a, doc_b FROM inter
              JOIN sizes sa ON sa.doc_id = doc_a
              JOIN sizes sb ON sb.doc_id = doc_b
              WHERE n_inter / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
            ),
            sym AS (
              SELECT doc_a AS u, doc_b AS v FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs
            ),
            reach(node, lab) AS (
              SELECT doc_id, doc_id FROM documents
              UNION
              SELECT s.u, r.lab FROM sym s JOIN reach r ON s.v = r.node
            )"""
    def marker_count(col: str, markers: tuple) -> str:
        """Engine-agnostic twin of textops._count_markers (see its
        docstring for why not \\b): token-split exact-match for ASCII-word
        markers, substring length-delta counts for CJK ones."""
        from ..operators.textops import _is_ascii_word

        ascii_words = [m for m in markers if _is_ascii_word(m)]
        other = [m for m in markers if not _is_ascii_word(m)]
        parts = []
        if ascii_words:
            in_list = ",".join(f"'{m}'" for m in ascii_words)
            parts.append(
                f"len(list_filter(string_split_regex({col}, '[^A-Za-z0-9_]+'),"
                f" x -> x IN ({in_list})))"
            )
        for m in other:
            parts.append(
                f"CAST((length({col}) - length(replace({col}, '{m}', '')))"
                f" / {len(m)} AS INT)"
            )
        return "(" + " + ".join(parts) + ")" if parts else "0"

    lang_hits = {
        lang: marker_count("text", textops.LANG_MARKERS[lang])
        for lang in sorted(textops.LANG_MARKERS)
    }
    hit_cols = ", ".join(f"{expr} AS h_{lang}" for lang, expr in lang_hits.items())
    best = "greatest(" + ", ".join(f"h_{l}" for l in sorted(textops.LANG_MARKERS)) + ")"
    pred_case = (
        "CASE "
        + " ".join(
            f"WHEN h_{l} = {best} THEN '{l}'" for l in sorted(textops.LANG_MARKERS)
        )
        + " END"
    )
    stop_count = lambda col: marker_count(col, textops.ENGLISH_STOPWORDS)

    return {
        "mm_base64_payload": """
            SELECT doc_id, base64(encode(text)) AS payload_b64,
                   octet_length(encode(text)) AS n_bytes
            FROM documents WHERE doc_id < 200
        """,
        "mm_frame_sample": """
            SELECT doc_id, unnest(generate_series(0, n_chars::INT, 500)) AS frame_ts
            FROM documents WHERE doc_id < 50
        """,
        "p2_python_fence": """
            SELECT event_id,
                   COALESCE(regexp_extract('```python x = ' || props || ' ```',
                                  '```python\\s*([\\s\\S]*?)\\s*```', 1), '') AS code
            FROM events WHERE event_id < 100
        """,
        "p3_strip_fences": """
            SELECT event_id,
                   trim(trim('```json' || props || '```'), '`json') AS stripped
            FROM events WHERE event_id < 100
        """,
        "c2_delete_relation_composite": """
            -- true anti-join replica, not the algebraic shortcut
            -- (o_orderkey % 97 <> 0): the shortcut also deletes rows whose
            -- composite key carries a NULL, but an equi-anti-join never
            -- matches NULL = NULL, so the engine KEEPS those rows
            SELECT o_custkey AS source, o_orderkey AS target,
                   o_orderpriority AS name
            FROM orders r
            WHERE NOT EXISTS (
              SELECT 1 FROM orders d
              WHERE d.o_orderkey % 97 = 0
                AND d.o_custkey = r.o_custkey
                AND d.o_orderkey = r.o_orderkey
                AND d.o_orderpriority = r.o_orderpriority
            )
        """,
        "j1_reconcile_merge": """
            SELECT COALESCE(l.id, r.id) AS id, 'doc' AS type,
              CASE
                WHEN l.id IS NOT NULL AND r.id IS NOT NULL
                  THEN '{"lang":"' || l.lang || '","src":"' || r.src || '"}'
                WHEN l.id IS NOT NULL THEN '{"lang":"' || l.lang || '"}'
                ELSE '{"src":"' || r.src || '"}'
              END AS attributes
            FROM (SELECT doc_id::VARCHAR AS id, lang FROM documents WHERE doc_id < 300) l
            FULL OUTER JOIN
                 (SELECT doc_id::VARCHAR AS id, source AS src FROM documents WHERE doc_id >= 200) r
              ON l.id = r.id
        """,
        "dedup_exact": """
            SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
                   count(*) AS n_dups
            FROM documents GROUP BY md5(text)
        """,
        "dedup_minhash_signatures": f"""
            WITH {_SH_CTE}
            SELECT doc_id, {sig(0)}, {sig(1)}, {sig(2)}, {sig(3)}
            FROM sh GROUP BY doc_id
        """,
        "dedup_lsh_candidates": f"""
            WITH {_SH_CTE},
            sigs AS (
              SELECT doc_id, {", ".join(sig(i) for i in range(8))}
              FROM sh GROUP BY doc_id
            ),
            bands AS (
              {bands8}
            )
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band_idx = b.band_idx AND a.band_key = b.band_key
            WHERE a.doc_id < b.doc_id
        """,
        "dedup_ngram_jaccard": f"""
            -- DEFAULT path = exact Jaccard over the DETERMINISTIC MinHash-LSH
            -- candidate pair space (8 hashes, 2-per-band) — the same bands the
            -- Spark operator derives, so the approximation is value-exact
            WITH {_SH_CTE},
            sigs AS (
              SELECT doc_id, {", ".join(sig(i) for i in range(8))}
              FROM sh GROUP BY doc_id
            ),
            bands AS (
              {bands8}
            ),
            cand AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM bands a JOIN bands b
                ON a.band_idx = b.band_idx AND a.band_key = b.band_key
              WHERE a.doc_id < b.doc_id
            ),
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
            inter AS (
              SELECT c.doc_a, c.doc_b, count(*) AS n_inter
              FROM cand c
              JOIN sh a ON a.doc_id = c.doc_a
              JOIN sh b ON b.doc_id = c.doc_b AND a.shingle = b.shingle
              GROUP BY c.doc_a, c.doc_b
            )
            SELECT doc_a, doc_b,
                   round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE n_inter / (sa.n_sh + sb.n_sh - n_inter) >= 0.2
        """,
        "dedup_simhash": """
            WITH toks AS (
              SELECT doc_id, unnest(str_split(text, ' ')) AS tok FROM documents
            ),
            h AS (
              SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
              FROM toks WHERE tok <> ''
            ),
            bits AS (
              SELECT doc_id, b.bit, ((h >> b.bit) & 1) AS v
              FROM h, (SELECT unnest(range(0, 16)) AS bit) b
            ),
            votes AS (
              SELECT doc_id, bit,
                     CASE WHEN sum(v * 2 - 1) > 0 THEN 1 ELSE 0 END AS vote
              FROM bits GROUP BY doc_id, bit
            )
            SELECT doc_id, CAST(sum(vote * power(2.0, bit)) AS BIGINT) AS simhash
            FROM votes GROUP BY doc_id
        """,
        "dedup_minhash_estimate": f"""
            WITH {_SH_CTE},
            sigs AS (
              SELECT doc_id, {", ".join(sig(i) for i in range(8))}
              FROM sh GROUP BY doc_id
            ),
            bands AS (
              {bands8}
            ),
            cand AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM bands a JOIN bands b
                ON a.band_idx = b.band_idx AND a.band_key = b.band_key
              WHERE a.doc_id < b.doc_id
            )
            SELECT c.doc_a, c.doc_b,
                   ({" + ".join(f"CASE WHEN x.sig_{i} = y.sig_{i} THEN 1 ELSE 0 END" for i in range(8))})
                     / 8.0 AS jaccard_est
            FROM cand c
            JOIN sigs x ON x.doc_id = c.doc_a
            JOIN sigs y ON y.doc_id = c.doc_b
        """,
        "dedup_clusters": f"""
            -- LSH-candidate jaccard >= 0.5 pairs (same bands as the Spark
            -- default) -> recursive transitive closure -> min-id cluster;
            -- singletons are their own cluster via the base case
            WITH RECURSIVE {_SH_CTE},
            {jaccard_closure}
            SELECT node AS doc_id, min(lab) AS cluster_id,
                   node = min(lab) AS is_canonical
            FROM reach GROUP BY node
        """,
        "dedup_keep_canonical": f"""
            -- canonical survivors of dedup_clusters with full payload:
            -- the SAME factored pair/closure chain, keep rows whose doc_id
            -- is its component's min member
            WITH RECURSIVE {_SH_CTE},
            {jaccard_closure},
            canon AS (
              SELECT node AS doc_id FROM reach
              GROUP BY node HAVING node = min(lab)
            )
            SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
            FROM documents d JOIN canon USING (doc_id)
        """,
        "dedup_embedding_cosine": f"""
            -- sequential float64 cosine via _cos_sql (matches Spark's
            -- aggregate() fold AND the corrupted-row NULL contract: NULL
            -- elements / NaN components yield NULL, which fails >= 0.4
            -- exactly like the engine's nan_to_null + threshold filter)
            WITH scored AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     {_cos_sql("a.embedding", "b.embedding")} AS cos_raw
              FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            )
            SELECT id_a, id_b, round(cos_raw, 6) AS cosine
            FROM scored WHERE cos_raw >= 0.4
        """,
        "dedup_embedding_cosine_lsh": f"""
            -- replica of the lsh_tables=4/lsh_planes=4 scale path: same
            -- md5 neardup{{t}} sign-LSH buckets (half-sum identity, same
            -- sequential float64 op order), candidate pairs = bucket
            -- collisions, then the SAME sequential cosine as the exact path
            WITH buckets AS (
              {_lsh_bucket_sql(4, 4, 64, seed_fmt="neardup{t}", prefix_fmt="{t}#")}
            ),
            cand AS (
              SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
              FROM buckets x JOIN buckets y USING (bucket)
              WHERE x.vec_id < y.vec_id
            ),
            scored AS (
              SELECT c.id_a, c.id_b,
                     {_cos_sql("a.embedding", "b.embedding")} AS cos_raw
              FROM cand c
              JOIN embeddings a ON a.vec_id = c.id_a
              JOIN embeddings b ON b.vec_id = c.id_b
            )
            SELECT id_a, id_b, round(cos_raw, 6) AS cosine
            FROM scored WHERE cos_raw >= 0.4
        """,
        "sim_cosine_topk_ivf": _ivf_topk_sql(3, 16, 4),
        "sim_cosine_topk_lsh": f"""
            -- exact replica of the approximate path: same md5-derived
            -- hyperplane sign literals, same candidate join, same sequential
            -- float64 cosine — value-checkable BECAUSE the approximation is
            -- deterministic (k=3, n_planes=4, n_tables=8, dim=64)
            WITH buckets AS (
              {_lsh_bucket_sql(4, 8, 64)}
            ),
            cand AS (
              SELECT DISTINCT l.vec_id AS query_id, r.vec_id AS neighbor_id
              FROM buckets l JOIN buckets r
                ON l.bucket = r.bucket AND l.vec_id <> r.vec_id
            ),
            scored AS (
              SELECT c.query_id, c.neighbor_id,
                     {_cos_sql("q.embedding", "e.embedding")} AS cos_raw
              FROM cand c
              JOIN embeddings q ON q.vec_id = c.query_id
              JOIN embeddings e ON e.vec_id = c.neighbor_id
            ),
            ranked AS (
              SELECT query_id, neighbor_id, cos_raw,
                     row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY cos_raw DESC, neighbor_id ASC
                     ) AS rank
              -- NULL-cosine rows (zero-norm or NULL embedding on either
              -- side: 0/0 and NULL both divide to NULL) are excluded from
              -- ranking, mirroring the engine's cosine-IS-NOT-NULL filter
              FROM scored WHERE cos_raw IS NOT NULL
            )
            SELECT query_id, neighbor_id, round(cos_raw, 6) AS cosine, rank
            FROM ranked WHERE rank <= 3
        """,
        "sim_cosine_topk": f"""
            -- cosine in sequential float64 (matches Spark's aggregate() fold
            -- bitwise; DuckDB's list_cosine_similarity is float32 — wrong);
            -- _cos_sql carries the shared corrupted-row NULL contract
            WITH scored AS (
              SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                     {_cos_sql("q.embedding", "e.embedding")} AS cos_raw
              FROM embeddings q JOIN embeddings e ON q.vec_id <> e.vec_id
              WHERE q.vec_id < 5
            ),
            ranked AS (
              SELECT query_id, neighbor_id, cos_raw,
                     row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY cos_raw DESC, neighbor_id ASC
                     ) AS rank
              -- mirror the engine's cosine-IS-NOT-NULL filter (zero-norm /
              -- NULL embeddings produce no top-k rows, are never neighbors)
              FROM scored WHERE cos_raw IS NOT NULL
            )
            SELECT query_id, neighbor_id, round(cos_raw, 6) AS cosine, rank
            FROM ranked WHERE rank <= 3
        """,
        "text_lang_id": f"""
            SELECT doc_id, {pred_case} AS pred_lang, {best} AS marker_hits
            FROM (SELECT doc_id, {hit_cols} FROM documents)
        """,
        "text_token_stats": """
            SELECT doc_id,
              len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS n_tokens,
              len(list_distinct(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))) AS n_distinct_tokens,
              len(regexp_extract_all(text, '([A-Za-z0-9]+|[^A-Za-z0-9\\s])', 1)) AS n_subword_tokens
            FROM documents
        """,
        "text_quality": f"""
            SELECT doc_id,
              length(text) AS n_chars_measured,
              len(toks) AS n_tokens,
              round(len(regexp_extract_all(text, '([^\\w\\s])', 1)) / greatest(length(text), 1), 6) AS punct_ratio,
              round({stop_count('lower(text)')} / greatest(len(toks), 1), 6) AS stopword_ratio,
              round(CASE WHEN len(toks) > 0
                    THEN list_aggregate([length(x)::DOUBLE FOR x IN toks], 'sum') / len(toks)
                    ELSE 0.0 END, 6) AS mean_word_len
            FROM (
              SELECT doc_id, text,
                     list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks
              FROM documents
            )
        """,
        "text_fingerprint": """
            SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
            FROM documents
        """,
        "text_repetition": """
            WITH lt AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS l
              FROM documents
            ),
            uc AS (
              SELECT doc_id, tok, count(*) AS c
              FROM (SELECT doc_id, unnest(l) AS tok FROM lt)
              GROUP BY 1, 2
            ),
            uni AS (
              -- BIGINT casts: DuckDB integer sum() yields HUGEINT → float64
              -- in pandas, which would fail the driver's value-hash
              SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, max(c) AS max_c,
                     CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS rep
              FROM uc GROUP BY 1
            ),
            bc AS (
              SELECT doc_id, bg, count(*) AS c
              FROM (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(l)),
                              i -> l[i] || ' ' || l[i + 1])) AS bg
                FROM lt
              )
              GROUP BY 1, 2
            ),
            big AS (
              SELECT doc_id, CAST(sum(c) AS BIGINT) AS nb, max(c) AS max_b
              FROM bc GROUP BY 1
            )
            SELECT uni.doc_id, n_tokens,
                   round(max_c::DOUBLE / n_tokens, 6) AS top_unigram_frac,
                   round(rep::DOUBLE / n_tokens, 6) AS repeated_token_frac,
                   round(coalesce(max_b::DOUBLE / nb, 0.0), 6) AS top_bigram_frac
            FROM uni LEFT JOIN big ON uni.doc_id = big.doc_id
        """,
        "text_keep_filter": f"""
            WITH lt AS (
              SELECT doc_id, text,
                     list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS l
              FROM documents
            ),
            nar AS (
              SELECT doc_id, {pred_case} AS pred_lang, n_tokens,
                     n_punct / greatest(n_chars, 1) AS punct_ratio,
                     n_stop / greatest(n_tokens, 1) AS stopword_ratio
              FROM (
                SELECT doc_id, {hit_cols},
                       CAST(len(l) AS BIGINT) AS n_tokens,
                       length(text) AS n_chars,
                       len(regexp_extract_all(text, '([^\\w\\s])', 1)) AS n_punct,
                       {stop_count('lower(text)')} AS n_stop
                FROM lt
              )
            ),
            uc AS (
              SELECT doc_id, tok, count(*) AS c
              FROM (SELECT doc_id, unnest(l) AS tok FROM lt)
              GROUP BY 1, 2
            ),
            uni AS (
              SELECT doc_id,
                     max(c) / CAST(sum(c) AS BIGINT) AS top_unigram_frac,
                     CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
                       / CAST(sum(c) AS BIGINT) AS repeated_token_frac
              FROM uc GROUP BY 1
            )
            SELECT nar.doc_id, pred_lang, n_tokens,
                   round(punct_ratio, 6) AS punct_ratio,
                   round(stopword_ratio, 6) AS stopword_ratio,
                   round(top_unigram_frac, 6) AS top_unigram_frac,
                   round(repeated_token_frac, 6) AS repeated_token_frac,
                   (pred_lang = 'en' AND n_tokens >= 30 AND n_tokens <= 100000
                    AND punct_ratio <= 0.3
                    AND coalesce(top_unigram_frac, 1.0) <= 0.12
                    AND coalesce(repeated_token_frac, 1.0) <= 0.85) AS keep
            FROM nar LEFT JOIN uni ON nar.doc_id = uni.doc_id
        """,
        "text_vocabulary": """
            -- CASTs: DuckDB sum(BIGINT) is HUGEINT → float64 in pandas
            WITH pairs AS (
              SELECT doc_id, tok AS token, count(*) AS tf
              FROM (
                SELECT doc_id,
                       unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                              x -> x <> '')) AS tok
                FROM documents
              )
              GROUP BY 1, 2
            )
            SELECT token, CAST(sum(tf) AS BIGINT) AS n_occurrences,
                   count(*) AS n_docs
            FROM pairs GROUP BY token
            ORDER BY n_occurrences DESC, token ASC
            LIMIT 50
        """,
        "text_tf_idf": """
            WITH pairs AS (
              SELECT doc_id, tok AS token, count(*) AS tf
              FROM (
                SELECT doc_id,
                       unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                              x -> x <> '')) AS tok
                FROM documents
              )
              GROUP BY 1, 2
            ),
            dfreq AS (SELECT token, count(*) AS df_t FROM pairs GROUP BY 1),
            n AS (SELECT count(*) AS n_docs FROM documents)
            SELECT doc_id, token, tf, df_t,
                   round(tf::DOUBLE * ln(n_docs::DOUBLE / df_t::DOUBLE), 6) AS tf_idf
            FROM pairs JOIN dfreq USING (token), n
            WHERE doc_id < 100
        """,
        "text_redact_pii": """
            WITH aug AS (
              SELECT doc_id,
                     text || ' reach user' || doc_id || '@example.com via 10.0.'
                          || (doc_id % 250) || '.7 or +1 555 010 '
                          || (doc_id % 10000) AS text
              FROM documents
            )
            SELECT doc_id,
                   len(regexp_extract_all(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', 0)) AS n_emails,
                   len(regexp_extract_all(text,
                       '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', 0)) AS n_ipv4,
                   len(regexp_extract_all(text,
                       '\\+[0-9]{1,3}[ -][0-9]{3}[ -][0-9]{3}[ -]?[0-9]{0,4}', 0)) AS n_phones,
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(text,
                         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                       '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', '<IP>', 'g'),
                     '\\+[0-9]{1,3}[ -][0-9]{3}[ -][0-9]{3}[ -]?[0-9]{0,4}', '<PHONE>', 'g')
                   AS redacted
            FROM aug
        """,
        "events_asof_purchase": """
            -- union + window replica of the Spark asof plan: identical
            -- (ts, side, event_id) ordering, so ties resolve identically
            WITH u AS (
              SELECT user_id, ts, event_id, 1 AS side,
                     NULL::BIGINT AS r_id, NULL::BIGINT AS r_us
              FROM events
              UNION ALL
              -- NULL-ts right rows are outside the match space (engine
              -- contract: a row with no time is never "nearest" anything)
              SELECT user_id, ts, event_id, 0,
                     event_id, epoch_us(ts)
              FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
            ),
            m AS (
              SELECT user_id, ts, event_id, side,
                     last_value(r_id IGNORE NULLS) OVER w AS pid,
                     last_value(r_us IGNORE NULLS) OVER w AS pus
              FROM u
              WINDOW w AS (
                PARTITION BY user_id ORDER BY ts, side, event_id
                ROWS UNBOUNDED PRECEDING
              )
            )
            -- NULL-ts left rows have no position in time: no match (the
            -- window would otherwise hand them whatever NULLS-LAST put
            -- before them — engine parity requires the explicit CASE)
            SELECT event_id, user_id,
                   CASE WHEN ts IS NULL THEN -1
                        ELSE COALESCE(pid, -1) END AS prior_purchase_id,
                   CASE WHEN ts IS NULL THEN -1
                        ELSE COALESCE(epoch_us(ts) - pus, -1)
                   END AS us_since_purchase
            FROM m WHERE side = 1
        """,
        "events_asof_forward": """
            -- forward mirror of events_asof_purchase: the window walks ts
            -- DESC so last_value carries the EARLIEST right row at-or-after
            -- each left row; at equal ts the right row (side 0) still sorts
            -- before the left, and among equal-ts rights the SMALLEST
            -- event_id wins (event_id DESC + last_value) — exactly the
            -- Spark plan's (_tse desc, _side asc, _ord desc) ordering
            WITH u AS (
              SELECT user_id, ts, event_id, 1 AS side,
                     NULL::BIGINT AS r_id, NULL::BIGINT AS r_us
              FROM events
              UNION ALL
              -- NULL-ts right rows are outside the match space (engine
              -- contract, same as the backward oracle)
              SELECT user_id, ts, event_id, 0,
                     event_id, epoch_us(ts)
              FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
            ),
            m AS (
              SELECT user_id, ts, event_id, side,
                     last_value(r_id IGNORE NULLS) OVER w AS nid,
                     last_value(r_us IGNORE NULLS) OVER w AS nus
              FROM u
              WINDOW w AS (
                PARTITION BY user_id ORDER BY ts DESC, side ASC, event_id DESC
                ROWS UNBOUNDED PRECEDING
              )
            )
            -- NULL-ts left rows match nothing (engine parity CASE)
            SELECT event_id, user_id,
                   CASE WHEN ts IS NULL THEN -1
                        ELSE COALESCE(nid, -1) END AS next_purchase_id,
                   CASE WHEN ts IS NULL THEN -1
                        ELSE COALESCE(nus - epoch_us(ts), -1)
                   END AS us_until_purchase
            FROM m WHERE side = 1
        """,
        "events_interval_sessions": """
            -- independent derivation: session_idx straight from the
            -- sessionize window (sessions are disjoint per user, so the
            -- containment join assignment is identical).  Two engine-parity
            -- filters: ts IS NOT NULL (sessionize contract — and a NULL-ts
            -- point bucketizes to NULL, never joining), and user_id IS NOT
            -- NULL on the OUTPUT (the engine's (key, bucket) equi-join
            -- never matches a NULL key, while this window derivation would
            -- happily session the NULL-user partition)
            WITH flagged AS (
              SELECT user_id, ts, event_id,
                     CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                               OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                          THEN 1 ELSE 0 END AS is_new
              FROM events WHERE ts IS NOT NULL
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            )
            SELECT user_id, event_id,
                   CAST(sum(is_new) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING
                   ) AS BIGINT) AS session_idx
            FROM flagged WHERE user_id IS NOT NULL
        """,
        "text_decontaminate": """
            WITH lt AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS l
              FROM documents
            ),
            g AS (
              SELECT doc_id,
                     unnest(list_transform(range(1, len(l) - 3), i ->
                       l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' ' ||
                       l[i+3] || ' ' || l[i+4])) AS gram
              FROM lt
            ),
            ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
            tr AS (SELECT DISTINCT doc_id, gram FROM g WHERE doc_id % 97 <> 0)
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared_grams
            FROM tr JOIN ev USING (gram)
            GROUP BY doc_id
        """,
        "k1_schema_to_ddl": """
            -- K1 over the prose corpus slice (docs 0..19): the engine's
            -- global schema is {'term': {kind: string}} iff any of those
            -- docs mentions a gazetteer term (same data condition as the
            -- kg_global_schema oracle); wrapped as a 'doc' root entity that
            -- 3NF-normalizes to a parent table plus (iff the term property
            -- exists) one child table with an FK.  The DDL text itself is
            -- the deterministic render of that schema.
            WITH hit AS (
              SELECT EXISTS (
                SELECT 1 FROM documents WHERE doc_id < 20 AND regexp_matches(text,
                  '\\b(join|scan|hash|sort|merge|filter|group|window|agg|batch|stream|query)\\b')
              ) AS any_term
            )
            SELECT 'doc' AS table_name,
                   'CREATE TABLE IF NOT EXISTS doc (' || chr(10) ||
                   '  doc_id BIGINT' || chr(10) || ') USING iceberg' AS ddl
            FROM hit
            UNION ALL
            SELECT 'doc_term',
                   'CREATE TABLE IF NOT EXISTS doc_term (' || chr(10) ||
                   '  doc_term_id BIGINT,' || chr(10) ||
                   '  doc_id BIGINT,' || chr(10) ||
                   '  kind STRING' || chr(10) || ') USING iceberg'
            FROM hit WHERE any_term
        """,
        "cc_components": """
            WITH RECURSIVE e AS (
              SELECT doc_id AS u,
                     lead(doc_id) OVER (PARTITION BY source ORDER BY doc_id) AS v
              FROM documents
              QUALIFY v IS NOT NULL
            ),
            sym AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
            nodes AS (SELECT DISTINCT u AS n FROM sym),
            reach(node, lab) AS (
              SELECT n, n FROM nodes
              UNION
              SELECT s.u, r.lab FROM sym s JOIN reach r ON s.v = r.node
            )
            SELECT node, min(lab) AS component FROM reach GROUP BY node
        """,
        "tpch_q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_discount), 6) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "tpch_q3_shipping_priority": """
            SELECT l_orderkey, o_orderdate, o_orderpriority,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1995-03-15'
              AND l_shipdate > TIMESTAMP '1995-03-15'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, l_orderkey ASC
            LIMIT 10
        """,
        "sample_stratified": """
            -- md5-derived keep decisions (operators/sampling.py): first 8
            -- hex chars over 16^8 as a uniform [0,1) fraction, per-stratum
            -- rate via CASE — bit-exact across engines
            SELECT doc_id, source FROM documents
            WHERE ('0x' || substr(md5(doc_id::VARCHAR || '#strat'), 1, 8))::BIGINT
                    / 4294967296.0
                  < CASE source
                      WHEN 'src0' THEN 1.0
                      WHEN 'src1' THEN 0.5
                      WHEN 'src2' THEN 0.25
                      ELSE 0.1 END
        """,
        "pack_sequences": """
            SELECT doc_id, source,
                   CAST(floor((cum - n_chars) / 4096.0) AS BIGINT) AS pack_id,
                   -- BIGINT cast: DuckDB's windowed sum() yields HUGEINT,
                   -- which pandas renders as float64 (1.0 vs Spark's 1) and
                   -- the driver's value-hash would mismatch
                   CAST((cum - n_chars) % 4096 AS BIGINT) AS pack_offset
            FROM (
              SELECT doc_id, source, n_chars,
                     sum(n_chars) OVER (
                       PARTITION BY source ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING
                     ) AS cum
              FROM documents
            )
        """,
        "graph_pagerank_mentions": _pagerank_sql(5, 0.85),
        "tpch_q6_forecast_revenue": """
            SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
                   count(*) AS n_rows
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
              AND l_discount >= 0.05 AND l_discount <= 0.07
              AND l_quantity < 24
        """,
        "events_user_rollup": """
            SELECT user_id, event_type, count(*) AS n_events,
                   round(sum(value), 4) AS sum_value,
                   round(avg(value), 6) AS avg_value
            FROM events GROUP BY user_id, event_type
        """,
        "events_hourly_rollup": """
            SELECT date_trunc('hour', ts) AS hour_bucket, event_type,
                   count(*) AS n_events, round(sum(value), 4) AS sum_value
            FROM events GROUP BY date_trunc('hour', ts), event_type
        """,
        "events_sessionize": """
            -- gap-based sessions, 30-min threshold; INTEGER microsecond
            -- epochs (epoch_us ↔ Spark unix_micros) — no float rounding
            WITH flagged AS (
              SELECT user_id, ts, event_id, value,
                     CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                               OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                          THEN 1 ELSE 0 END AS is_new
              -- ts IS NOT NULL: engine contract — a row with no time has
              -- no place in a time session (see operators/events.py)
              FROM events WHERE ts IS NOT NULL
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            sess AS (
              -- CAST: DuckDB's sum(int) is HUGEINT/DECIMAL — the value-hash
              -- would differ from Spark's BIGINT session_idx (1.0 vs 1)
              SELECT user_id, ts, value,
                     CAST(sum(is_new) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING
                     ) AS BIGINT) AS session_idx
              FROM flagged
            )
            SELECT user_id, session_idx,
                   min(ts) AS session_start, max(ts) AS session_end,
                   count(*) AS n_events, round(sum(value), 6) AS total_value
            FROM sess GROUP BY user_id, session_idx
        """,
    }
