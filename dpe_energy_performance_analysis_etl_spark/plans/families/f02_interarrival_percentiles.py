"""Query-registry family chunk 2 (auto-split from the
historical plans/queries.py lines 3734-5520; registration
order preserved — see plans/queries.py facade)."""

from __future__ import annotations

from dpe_energy_performance_analysis_etl_spark.plans._core import (  # noqa: F401
    Callable,
    DataFrame,
    SparkSession,
    Window,
    F,
    epoch_double,
    epoch_micros,
    epoch_seconds,
    exact_cents_sum,
    exact_sum_agg,
    from_cents,
    scaled_long,
    TABLES,
    load_tables,
    read_events,
    read_documents,
    read_embeddings,
    dsum,
    davg,
    dsum_fast,
    davg_fast,
    QUERIES,
    ORACLE_SQL,
    register,
)
from dpe_energy_performance_analysis_etl_spark.plans.families.f01_json_struct_parse import (  # noqa: F401
    _JACCARD_EDGES_SQL,
)

@register(
    "interarrival_percentiles",
    """
    WITH gaps AS (
      SELECT event_type,
             epoch_us(ts) - epoch_us(LAG(ts) OVER (
               PARTITION BY event_type ORDER BY ts, event_id)) AS gap_us
      FROM events
    )
    SELECT event_type,
           COUNT(gap_us) AS n_gaps,
           quantile_cont(gap_us, 0.5) AS p50_us,
           quantile_cont(gap_us, 0.9) AS p90_us,
           quantile_cont(gap_us, 0.99) AS p99_us
    FROM gaps WHERE gap_us IS NOT NULL
    GROUP BY event_type
    """,
)
def interarrival_percentiles_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-time distribution per event type: lag() gaps in
    exact integer microseconds, EXACT interpolated percentiles (the
    approx-percentile sketch is the scale path; this is its
    correctness baseline — same pairing as percentile_iqr). Window
    and aggregate share the event_type partitioning."""
    ev = read_events(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    gaps = ev.select(
        "event_type",
        (epoch_micros("ts") - epoch_micros(F.lag("ts").over(w))).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    pct = F.percentile(F.col("gap_us"), F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)))
    return gaps.groupBy("event_type").agg(
        F.count("gap_us").alias("n_gaps"),
        pct.getItem(0).alias("p50_us"),
        pct.getItem(1).alias("p90_us"),
        pct.getItem(2).alias("p99_us"),
    )


# =====================================================================
# Corpus curation (text/curation.py — Gopher/C4-style filtering,
# decontamination, sampling, survivorship)
# =====================================================================

@register(
    "gopher_repetition",
    """
    WITH tok AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents
    ), tagged AS (
      SELECT doc_id, 1 AS n, unnest(t) AS gram FROM tok
      UNION ALL
      SELECT doc_id, 2, unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]))
      FROM tok WHERE len(t) >= 2
      UNION ALL
      SELECT doc_id, 3, unnest(list_transform(range(1, len(t) - 1),
             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
      FROM tok WHERE len(t) >= 3
    ), gc AS (
      SELECT doc_id, n, gram, count(*) AS c FROM tagged GROUP BY 1, 2, 3
    ), pern AS (
      SELECT doc_id, n, count(*) AS n_distinct, sum(c) AS total, max(c) AS mx,
             sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_occ
      FROM gc GROUP BY 1, 2
    ), stats AS (
      SELECT doc_id,
             max(CASE WHEN n = 1 THEN total END) AS n_tokens,
             CAST(1 AS DOUBLE) - CAST(max(CASE WHEN n = 1 THEN n_distinct END) AS DOUBLE)
               / CAST(max(CASE WHEN n = 1 THEN total END) AS DOUBLE) AS dup_unigram_frac,
             CAST(max(CASE WHEN n = 2 THEN mx END) AS DOUBLE)
               / CAST(max(CASE WHEN n = 2 THEN total END) AS DOUBLE) AS top_bigram_frac,
             CAST(max(CASE WHEN n = 3 THEN dup_occ END) AS DOUBLE)
               / CAST(max(CASE WHEN n = 3 THEN total END) AS DOUBLE) AS dup_trigram_frac
      FROM pern GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens,
           s.dup_unigram_frac, s.top_bigram_frac, s.dup_trigram_frac,
           coalesce(s.dup_unigram_frac <= 0.6, TRUE)
             AND coalesce(s.top_bigram_frac <= 0.05, TRUE)
             AND coalesce(s.dup_trigram_frac <= 0.05, TRUE) AS keep
    FROM documents d LEFT JOIN stats s USING (doc_id)
    """,
)
def gopher_repetition_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter (Rae et al. 2021 §A1.1):
    duplicate-unigram fraction, top-bigram occupancy, duplicate-trigram
    occupancy, and the keep verdict. One tagged n-gram explode feeding
    two map-side-combinable aggregations — shuffle is O(tokens), never
    O(pairs). (Reference has no text domain; build-mandate extension.)"""
    from dpe_energy_performance_analysis_etl_spark.text import gopher_repetition_filter

    docs = read_documents(spark, sf_dir)
    return gopher_repetition_filter(docs)


@register(
    "quality_filter_heuristic",
    """
    WITH tok AS (
      SELECT doc_id, text, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents
    )
    SELECT doc_id,
           CAST(len(t) AS BIGINT) AS n_words,
           CAST(coalesce(list_sum(list_transform(t, x -> len(x))), 0) AS DOUBLE)
             / CAST(greatest(len(t), 1) AS DOUBLE) AS mean_word_len,
           CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS DOUBLE)
             / CAST(greatest(len(text), 1) AS DOUBLE) AS symbol_ratio,
           (contains(lower(text), 'lorem ipsum') OR contains(lower(text), 'javascript')
             OR contains(lower(text), '{')) AS has_boilerplate,
           (len(t) >= 20 AND len(t) <= 80
             AND CAST(coalesce(list_sum(list_transform(t, x -> len(x))), 0) AS DOUBLE)
               / CAST(greatest(len(t), 1) AS DOUBLE) >= 4.0
             AND CAST(coalesce(list_sum(list_transform(t, x -> len(x))), 0) AS DOUBLE)
               / CAST(greatest(len(t), 1) AS DOUBLE) <= 5.0
             AND CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS DOUBLE)
               / CAST(greatest(len(text), 1) AS DOUBLE) <= 0.1
             AND NOT (contains(lower(text), 'lorem ipsum')
               OR contains(lower(text), 'javascript') OR contains(lower(text), '{')))
             AS keep
    FROM tok
    """,
)
def quality_filter_heuristic_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style structural quality gate (Raffel et al. 2020 §2.2):
    word-count window, mean-word-length window, symbol ratio,
    boilerplate markers. Pure row-local expressions — runs inside
    whole-stage codegen at scan speed, zero shuffle."""
    from dpe_energy_performance_analysis_etl_spark.text import heuristic_quality_filter

    docs = read_documents(spark, sf_dir)
    return heuristic_quality_filter(docs)


@register(
    "decontaminate_overlap",
    """
    WITH tok AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents
    ), g AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(t) - 2),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))) AS gram
      FROM tok WHERE len(t) >= 4
    ), bench AS (
      SELECT doc_id AS bench_id, gram FROM g WHERE doc_id % 97 = 0
    ), corpus AS (
      SELECT doc_id, gram FROM g WHERE doc_id % 97 <> 0
    )
    SELECT doc_id,
           CAST(count(DISTINCT gram) AS BIGINT) AS n_shared_ngrams,
           CAST(count(DISTINCT bench_id) AS BIGINT) AS n_benchmark_docs
    FROM corpus JOIN bench USING (gram)
    GROUP BY doc_id
    """,
)
def decontaminate_overlap_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination by word-4-gram overlap (the public
    GPT-3/PaLM recipe, gram size scaled to these short docs): which
    corpus docs share any 4-gram with the held-out set (deterministic
    stand-in: doc_id % 97 == 0). Fixed-width md5 join keys; the
    benchmark side broadcasts — corpus never shuffles its text."""
    from dpe_energy_performance_analysis_etl_spark.text import ngram_decontaminate

    docs = read_documents(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return ngram_decontaminate(corpus, bench, n=4)


@register(
    "stratified_sample_mix",
    """
    SELECT doc_id, source,
           CAST(((doc_id * 2654435761) % 4294967296) % 10000 AS BIGINT) AS bucket
    FROM documents
    WHERE ((doc_id * 2654435761) % 4294967296) % 10000 <
          CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0 THEN 7500 ELSE 2500 END
    """,
)
def stratified_sample_mix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling for training-mix construction:
    even-numbered sources kept at 75%, odd at 25%, decided by a
    portable multiplicative hash of doc_id (not rand()) — reproducible
    across runs, engines, and partitionings. Row-local expression,
    zero shuffle."""
    from dpe_energy_performance_analysis_etl_spark.text import sampling_hash, stratified_sample

    docs = read_documents(spark, sf_dir)
    rates = {f"src{i}": (0.75 if i % 2 == 0 else 0.25) for i in range(20)}
    sampled = stratified_sample(docs, rates, strata_col="source", key_col="doc_id")
    return sampled.select(
        "doc_id", "source", sampling_hash(F.col("doc_id")).cast("bigint").alias("bucket")
    )


@register(
    "cluster_canonical_survivors",
    f"""
    WITH RECURSIVE {_JACCARD_EDGES_SQL},
    und AS (
      SELECT doc_a AS s, doc_b AS d FROM edges
      UNION ALL
      SELECT doc_b, doc_a FROM edges
    ), reach(node, comp) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT u.d, r.comp FROM reach r JOIN und u ON u.s = r.node WHERE r.comp < u.d
    ), labels AS (
      SELECT node AS doc_id, MIN(comp) AS component FROM reach GROUP BY node
    ), dq AS (
      SELECT l.doc_id, l.component, CAST(d.n_chars AS BIGINT) AS n_chars
      FROM labels l JOIN documents d USING (doc_id)
    )
    SELECT doc_id, component, n_chars, canonical_id,
           doc_id = canonical_id AS is_kept
    FROM (
      SELECT doc_id, component, n_chars,
             first_value(doc_id) OVER (
               PARTITION BY component ORDER BY n_chars DESC, doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS canonical_id
      FROM dq
    )
    """,
)
def cluster_canonical_survivors_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship after near-dup clustering: connected components
    over word-3-gram Jaccard edges (same edge set as
    ``dedup_clusters_cc``), then per cluster keep the highest-quality
    doc (n_chars, ties → min doc_id). This is the step that turns
    pair/cluster output into an actually deduplicated corpus; one
    window over the cluster assignment."""
    from dpe_energy_performance_analysis_etl_spark.dedup import dedup_clusters, shingle_pairs_jaccard
    from dpe_energy_performance_analysis_etl_spark.text import canonical_per_cluster

    docs = read_documents(spark, sf_dir)
    edges = shingle_pairs_jaccard(docs, threshold=0.05).select("doc_a", "doc_b")
    clusters = dedup_clusters(docs, edges)
    return canonical_per_cluster(docs, clusters)


@register(
    "spatial_radius_join",
    """
    WITH c AS (
      SELECT c_custkey,
             CAST(c_custkey % 100 AS DOUBLE) / 10 AS lat,
             CAST((c_custkey // 100) % 100 AS DOUBLE) / 10 AS lon
      FROM customer
    ), s AS (
      SELECT s_suppkey,
             CAST(s_suppkey % 100 AS DOUBLE) / 10 AS lat,
             CAST((s_suppkey * 7) % 100 AS DOUBLE) / 10 AS lon
      FROM supplier
    )
    SELECT c_custkey, s_suppkey,
           sqrt((c.lat - s.lat) * (c.lat - s.lat)
              + (c.lon - s.lon) * (c.lon - s.lon)) AS dist_deg
    FROM c JOIN s
      ON sqrt((c.lat - s.lat) * (c.lat - s.lat)
            + (c.lon - s.lon) * (c.lon - s.lon)) <= 0.15
    """,
)
def spatial_radius_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial radius join (customers to suppliers within 0.15° on
    deterministic key-derived coordinates — the tables carry no geo
    columns, so the coordinates are synthesized identically in both
    engines). The Spark plan is the grid-bucketed band join
    (operators/spatial.py): cell equi-join + 9x neighbor fan-out +
    exact refine — no cartesian product; the oracle states the naive
    O(n·m) semantics. Euclidean-degree metric: mul/add/sqrt are
    IEEE-correctly-rounded, so both engines agree bit-exactly."""
    from dpe_energy_performance_analysis_etl_spark.operators.spatial import grid_radius_join

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey",
        ((F.col("c_custkey") % 100).cast("double") / 10).alias("lat"),
        ((F.expr("c_custkey div 100") % 100).cast("double") / 10).alias("lon"),
    )
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        "s_suppkey",
        ((F.col("s_suppkey") % 100).cast("double") / 10).alias("lat"),
        (((F.col("s_suppkey") * 7) % 100).cast("double") / 10).alias("lon"),
    )
    pairs = grid_radius_join(
        cust, supp, radius=0.15, metric="euclidean_deg", distance_col="dist_deg"
    )
    return pairs.select("c_custkey", "s_suppkey", "dist_deg")


@register(
    "chunk_documents",
    """
    WITH tok AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents
    ), st AS (
      SELECT doc_id, t, unnest(range(0, len(t), 24)) AS s FROM tok WHERE len(t) > 0
    )
    SELECT doc_id,
           CAST(s // 24 AS BIGINT) AS chunk_id,
           array_to_string(t[s+1 : s+32], ' ') AS chunk_text,
           CAST(len(t[s+1 : s+32]) AS BIGINT) AS n_chunk_tokens
    FROM st
    """,
)
def chunk_documents_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (32-token chunks, 8-token
    overlap → stride 24): the RAG/max-length chunker. Per-row
    sequence→explode→slice — zero shuffle, runs at scan speed."""
    from dpe_energy_performance_analysis_etl_spark.text.packing import chunk_documents

    docs = read_documents(spark, sf_dir)
    return chunk_documents(docs, chunk_tokens=32, overlap_tokens=8)


@register(
    "sequence_pack_bins",
    """
    WITH tok AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens
      FROM documents
    ), cum AS (
      SELECT doc_id, n_tokens,
             CAST(SUM(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT)
               AS start_token
      FROM tok
    )
    SELECT doc_id, n_tokens, start_token,
           CAST(start_token // 256 AS BIGINT) AS bin_id,
           CAST(start_token % 256 AS BIGINT) AS offset_in_bin,
           (start_token % 256) + n_tokens > 256 AS spans_boundary
    FROM cum
    """,
)
def sequence_pack_bins_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk token packing (T5-style) at budget 256:
    which bin each document starts in and at what offset. The global
    running sum is a TWO-LEVEL scan (within-bucket window + tiny
    bucket-prefix broadcast) — no single-partition global window, the
    at-scale replacement for the oracle's ORDER BY window."""
    from dpe_energy_performance_analysis_etl_spark.text import token_count
    from dpe_energy_performance_analysis_etl_spark.text.packing import sequence_pack

    docs = read_documents(spark, sf_dir)
    counted = docs.select("doc_id", token_count("text").alias("n_tokens"))
    return sequence_pack(counted, budget=256, token_count_col="n_tokens", order_col="doc_id")


@register(
    "temperature_mixture_sample",
    """
    WITH counts AS (
      SELECT lang, count(*) AS n_rows FROM documents GROUP BY 1
    ), m AS (
      SELECT min(n_rows) AS mn FROM counts
    ), rates AS (
      SELECT lang, sqrt(CAST(mn AS DOUBLE) / CAST(n_rows AS DOUBLE)) AS keep_rate
      FROM counts, m
    )
    SELECT d.doc_id, d.lang
    FROM documents d JOIN rates r USING (lang)
    WHERE CAST(((d.doc_id * 2654435761) % 4294967296) % 10000 AS DOUBLE)
          < r.keep_rate * 10000
    """,
)
def temperature_mixture_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source rebalancing (T5 §3.4.3 family) at
    T=2 over the lang strata: the smallest language is kept whole,
    larger ones downsampled at sqrt(min/n) — deterministic via the
    portable key hash, so the sampled set is bit-reproducible. The
    rate table is #strata rows, broadcast; the decision is row-local
    (zero extra shuffle). T=2 is the oracle-exact temperature: sqrt
    is IEEE-correctly-rounded, general pow is not."""
    from dpe_energy_performance_analysis_etl_spark.text.mixing import temperature_mixture_sample

    docs = read_documents(spark, sf_dir)
    return temperature_mixture_sample(docs, strata_col="lang", key_col="doc_id").select(
        "doc_id", "lang"
    )


@register(
    "pseudonymize_pii",
    """
    SELECT c_custkey, sha256('k1:' || c_name) AS c_name_pseud
    FROM customer
    """,
)
def pseudonymize_pii_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic salted-sha256 pseudonymization of a direct
    identifier: equality joins/dedup still work on the pseudonym
    (same salt => same digest) while the raw value is dropped.
    Row-local JVM sha2 — codegen'd, zero shuffle."""
    from dpe_energy_performance_analysis_etl_spark.text.mixing import pseudonymize

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select("c_custkey", "c_name")
    return pseudonymize(cust, ["c_name"], salt="k1")


# =====================================================================
# Round-3 additions: native session windows, free-text PII redaction,
# deterministic epoch sharding
# =====================================================================

@register(
    "events_session_window_native",
    """
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       >= INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sessions AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events
    FROM sessions GROUP BY user_id, sid
    """,
)
def events_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE session_window operator (§2.8) — the same
    gaps-and-islands result as ``events_sessionize`` but via the
    built-in merging session assigner, which also runs unchanged under
    Structured Streaming with watermark-based state eviction (the
    scale path for infinite streams; the window() variant of
    ``streaming/stateful.py``'s applyInPandasWithState sessionizer).

    Boundary semantics: session_window treats [start, last+gap) as
    half-open, so a gap of EXACTLY the timeout starts a new session —
    the oracle's CASE uses >= to match."""
    ev = read_events(spark, sf_dir)
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("user_id", "session_start", "session_end", "n_events")
    )


@register(
    "pii_redact",
    """
    WITH seeded AS (
      SELECT doc_id,
             text || ' contact user' || doc_id || '@example.com or 10.0.' ||
             (doc_id % 256) || '.7 tel +33 6 ' || (10000000 + doc_id) AS text
      FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+')) AS email_n,
           len(regexp_extract_all(
             regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+', '[email]', 'g'),
             '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}')) AS ipv4_n,
           len(regexp_extract_all(
             regexp_replace(
               regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+', '[email]', 'g'),
               '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}', '[ipv4]', 'g'),
             '\\+?[0-9][0-9 ()-]{7,}[0-9]')) AS phone_n,
           regexp_replace(
             regexp_replace(
               regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+', '[email]', 'g'),
               '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}', '[ipv4]', 'g'),
             '\\+?[0-9][0-9 ()-]{7,}[0-9]', '[phone]', 'g') AS text
    FROM seeded
    """,
)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Free-text PII redaction (text/mixing.py redact_pii): class
    tokens replace emails / IPv4s / phone numbers, with per-class
    match counts. The fixture seeds synthetic identifiers from doc_id
    (both engines build the identical string) so redaction does real
    work on every row; patterns are engine-portable regex. Counts are
    taken class-AFTER-class on the progressively scrubbed text
    (emails first), so digits inside an address are never double-
    counted as a phone — mirrored exactly in the oracle's nesting.
    Row-local, zero shuffle."""
    from dpe_energy_performance_analysis_etl_spark.text.mixing import redact_pii

    docs = read_documents(spark, sf_dir)
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com or 10.0."), (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 tel +33 6 "), (F.col("doc_id") + 10_000_000).cast("string"),
        ).alias("text"),
    )
    return redact_pii(seeded).select("doc_id", "email_n", "ipv4_n", "phone_n", "text")


@register(
    "epoch_shard_assign",
    """
    SELECT doc_id,
           CAST(((((doc_id + 1 * 1000003) % 2147483647) * 2654435761 % 4294967296) % 10000) % 8 AS INTEGER) AS shard,
           ((((doc_id + 1 * 1000003) % 2147483647) * 2654435761 % 4294967296) % 10000) * 10007 % 100000 AS shuffle_key
    FROM documents
    """,
)
def epoch_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch-N shuffle/shard assignment for training
    data loaders (text/mixing.py epoch_shard): reproducible
    pseudo-random shard in [0,8) and per-epoch shuffle key, portable
    integer hashing, no global sort — the writer repartitions by
    shard and sorts WITHIN partitions only."""
    from dpe_energy_performance_analysis_etl_spark.text.mixing import epoch_shard

    docs = read_documents(spark, sf_dir)
    return epoch_shard(docs, n_shards=8, epoch=1).select("doc_id", "shard", "shuffle_key")


@register(
    "c4_line_filter",
    """
    WITH seeded AS (
      SELECT doc_id,
             'Header fragment without ending' || chr(10) ||
             'This line has enough words and ends well, doc ' || doc_id || '.' || chr(10) ||
             'short.' || chr(10) ||
             substr(text, 1, 40) || ' closes the document here!' AS text
      FROM documents
    )
    SELECT doc_id,
           len(string_split(text, chr(10))) AS n_lines,
           len(list_filter(string_split(text, chr(10)),
               ln -> regexp_matches(ln, '[.!?]$') AND len(string_split(ln, ' ')) >= 5)) AS n_kept_lines,
           len(list_filter(string_split(text, chr(10)),
               ln -> regexp_matches(ln, '[.!?]$') AND len(string_split(ln, ' ')) >= 5)) >= 1 AS keep_doc,
           list_aggregate(list_filter(string_split(text, chr(10)),
               ln -> regexp_matches(ln, '[.!?]$') AND len(string_split(ln, ' ')) >= 5),
             'string_agg', chr(10)) AS clean_text
    FROM seeded
    """,
)
def c4_line_filter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level C4 cleaning (text/curation.py c4_line_filter): the
    fixture seeds each doc with four deterministic lines — an
    unterminated header (dropped), a long terminated line (kept), a
    short terminated line (dropped: under the word floor), and a
    terminated closing line built from the doc text (kept) — so the
    filter exercises every branch on every row."""
    from dpe_energy_performance_analysis_etl_spark.text.curation import c4_line_filter

    docs = read_documents(spark, sf_dir)
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.lit("Header fragment without ending\n"),
            F.lit("This line has enough words and ends well, doc "),
            F.col("doc_id").cast("string"), F.lit(".\n"),
            F.lit("short.\n"),
            F.substring("text", 1, 40), F.lit(" closes the document here!"),
        ).alias("text"),
    )
    return c4_line_filter(seeded)


@register(
    "html_strip_corpus",
    """
    WITH seeded AS (
      SELECT doc_id,
             '<html><body class="x"><h1>Doc ' || doc_id || '</h1><p>' ||
             substr(text, 1, 50) || ' &amp; more &lt;escaped&gt; '
             || '</p><br/><script>var x = 1;</script></body></html>' AS text
      FROM documents
    )
    SELECT doc_id,
           trim(regexp_replace(
             replace(replace(replace(replace(replace(replace(
               regexp_replace(text, '<[^>]*>', ' ', 'g'),
               '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
               '&#39;', chr(39)), '&amp;', '&'),
             '\\s+', ' ', 'g')) AS clean_text
    FROM seeded
    """,
)
def html_strip_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML boilerplate removal (text/curation.py html_strip) over a
    seeded wrapper: tags (incl. attributes and a script body's angle-
    bracket-free content) drop, entities unescape in the standard
    order (&amp; last), whitespace collapses. Note tag-stripping
    leaves script TEXT behind by design — script/style CONTENT removal
    is a parser concern; the regex layer only guarantees markup
    removal, which is what the oracle checks."""
    from dpe_energy_performance_analysis_etl_spark.text.curation import html_strip

    docs = read_documents(spark, sf_dir)
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.lit('<html><body class="x"><h1>Doc '), F.col("doc_id").cast("string"),
            F.lit("</h1><p>"), F.substring("text", 1, 50),
            F.lit(" &amp; more &lt;escaped&gt; "),
            F.lit("</p><br/><script>var x = 1;</script></body></html>"),
        ).alias("text"),
    )
    return html_strip(seeded).select("doc_id", "clean_text")


@register(
    "bloom_prune_join",
    """
    SELECT l.l_orderkey, l.l_linenumber, l.l_extendedprice, o.o_totalprice
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_totalprice > 400000
    """,
)
def bloom_prune_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter-style bloom join pruning
    (operators/bloomjoin.py): the selective orders subset builds a
    bitset filter that drops non-matching lineitem rows BEFORE the
    join's exchange — the explicit form of Spark's
    runtime.bloomFilter / Trino dynamic filtering, and the 100 TB
    play for fact-vs-filtered-dim joins (reference analogue: the
    enriched-frame lookups in transform.py:154-210). Exact because
    blooms have no false negatives; the oracle is the PLAIN join."""
    from dpe_energy_performance_analysis_etl_spark.operators.bloomjoin import (
        bloom_pruned_join,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    orders = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_totalprice") > 400000)
        .select("o_orderkey", "o_totalprice")
    )
    joined = bloom_pruned_join(li, orders, "l_orderkey", "o_orderkey")
    return joined.select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "o_totalprice"
    )


@register(
    "semantic_dedup_survivors",
    """
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), n AS (
      SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM base
    ), cents AS (
      SELECT vec_id AS cluster, v AS centroid, nrm AS centnorm
      FROM n WHERE vec_id < 8
    ), assigned AS (
      SELECT vec_id, v, nrm, cluster FROM (
        SELECT n.vec_id, n.v, n.nrm, c.cluster,
               row_number() OVER (PARTITION BY n.vec_id
                 ORDER BY list_dot_product(n.v, c.centroid) / (n.nrm * c.centnorm) DESC,
                          c.cluster) AS rn
        FROM n CROSS JOIN cents c
      ) WHERE rn = 1
    ), dominated AS (
      SELECT a.vec_id AS id,
             max(list_dot_product(b.v, a.v) / (b.nrm * a.nrm)) AS dup_cosine
      FROM assigned a JOIN assigned b
        ON a.cluster = b.cluster AND b.vec_id < a.vec_id
      WHERE list_dot_product(b.v, a.v) / (b.nrm * a.nrm) >= 0.35
      GROUP BY a.vec_id
    )
    SELECT a.vec_id AS id, a.cluster, d.id IS NULL AS kept, d.dup_cosine
    FROM assigned a LEFT JOIN dominated d ON a.vec_id = d.id
    """,
)
def semantic_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (dedup/semantic.py; Abbas et al.
    2023): seeded coarse quantizer -> within-cluster cosine pairs ->
    keep-lowest-id survivors. All-pairs O(n^2) becomes O(n^2/k) via
    the cluster equi-join — the embedding-space sibling of the
    MinHash band-bucket bound. One row per vector (kept flag + the
    dominating cosine), bit-replayed by the oracle."""
    from dpe_energy_performance_analysis_etl_spark.dedup.semantic import semantic_dedup

    emb = read_embeddings(spark, sf_dir)
    return semantic_dedup(emb, n_clusters=8, threshold=0.35)


@register(
    "dsir_importance_scores",
    """
    WITH toks AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      FROM documents
    ), ttoks AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      FROM documents WHERE lang = 'en'
    ), tvoc AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS tc FROM ttoks GROUP BY tok
    ), rvoc AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS rc FROM toks GROUP BY tok
    ), joined AS (
      SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(coalesce(tv.tc, 0)) AS BIGINT) AS target_mass,
             CAST(sum(coalesce(rv.rc, 0)) AS BIGINT) AS ref_mass
      FROM toks t
      LEFT JOIN tvoc tv USING (tok)
      LEFT JOIN rvoc rv USING (tok)
      GROUP BY t.doc_id
    ), totals AS (
      SELECT CAST((SELECT sum(tc) FROM tvoc) AS BIGINT) AS t_total,
             CAST((SELECT sum(rc) FROM rvoc) AS BIGINT) AS r_total
    )
    SELECT doc_id, n_tokens, target_mass, ref_mass,
           (CAST(target_mass AS DOUBLE) * CAST(r_total AS DOUBLE))
           / (CAST(ref_mass AS DOUBLE) * CAST(t_total AS DOUBLE)) AS affinity
    FROM joined CROSS JOIN totals
    """,
)
def dsir_importance_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-family importance scoring (text/importance.py; Xie et al.
    2023): candidates scored by target-corpus (lang='en') unigram
    affinity vs the full-pool reference. Exact-integer aggregates +
    one IEEE-determined double expression — the oracle-hashable twin
    of the log-likelihood-ratio scorer (``dsir_log_ratio``, verified
    vs numpy in tests). Vocab tables broadcast; the corpus explodes
    once and never re-shuffles."""
    from dpe_energy_performance_analysis_etl_spark.text.importance import (
        importance_score,
    )

    docs = read_documents(spark, sf_dir)
    return importance_score(docs, target=docs.filter(F.col("lang") == "en"))


@register(
    "paragraph_dedup_corpus",
    """
    WITH seeded AS (
      SELECT doc_id,
             'Shared boilerplate: all rights reserved.' || chr(10) ||
             'Doc ' || doc_id || ' body: ' || substr(text, 1, 60) || chr(10) ||
             'Group banner ' || (doc_id % 7) || chr(10) ||
             'Doc ' || doc_id || ' closing line.' AS text
      FROM documents
    ), paras AS (
      SELECT doc_id,
             unnest(generate_series(1, len(ps))) - 1 AS pos,
             unnest(ps) AS para
      FROM (SELECT doc_id, string_split(text, chr(10)) AS ps FROM seeded)
    ), tagged AS (
      SELECT doc_id, pos, para,
             row_number() OVER (PARTITION BY md5(para)
                                ORDER BY doc_id, pos) = 1 AS kept
      FROM paras
    )
    SELECT doc_id,
           coalesce(string_agg(para, chr(10) ORDER BY pos) FILTER (kept), '')
             AS clean_text,
           CAST(count(*) FILTER (kept) AS BIGINT) AS n_kept,
           CAST(count(*) FILTER (NOT kept) AS BIGINT) AS n_dropped
    FROM tagged GROUP BY doc_id
    """,
)
def paragraph_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide exact paragraph dedup (text/curation.py
    ``paragraph_dedup``; the Dolma/CCNet boilerplate-stripping stage)
    over a seeded 4-paragraph wrapper: one paragraph shared by ALL
    docs (survives only in doc 0), one shared per doc_id%7 group
    (survives in each group's min doc), two unique per doc (always
    survive). First-occurrence resolution is one md5-keyed groupBy +
    co-partitioned join — O(paragraphs), never O(pairs)."""
    from dpe_energy_performance_analysis_etl_spark.text.curation import paragraph_dedup

    docs = read_documents(spark, sf_dir)
    seeded = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.lit("Shared boilerplate: all rights reserved."),
            F.concat(
                F.lit("Doc "), F.col("doc_id").cast("string"), F.lit(" body: "),
                F.substring("text", 1, 60),
            ),
            F.concat(F.lit("Group banner "), (F.col("doc_id") % 7).cast("string")),
            F.concat(
                F.lit("Doc "), F.col("doc_id").cast("string"),
                F.lit(" closing line."),
            ),
        ).alias("text"),
    )
    return paragraph_dedup(seeded)


@register(
    "basket_cooccurrence_lift",
    """
    WITH items AS (
      SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem
    ), n AS (
      SELECT CAST(count(DISTINCT basket) AS BIGINT) AS n_baskets FROM items
    ), supp AS (
      SELECT item, CAST(count(*) AS BIGINT) AS s FROM items GROUP BY item
    ), pairs AS (
      SELECT a.item AS item_a, b.item AS item_b,
             CAST(count(*) AS BIGINT) AS support
      FROM items a JOIN items b
        ON a.basket = b.basket AND a.item < b.item
      GROUP BY 1, 2
      HAVING count(*) >= 2
    )
    SELECT item_a, item_b, support,
           sa.s AS supp_a, sb.s AS supp_b,
           CAST(support AS DOUBLE) * CAST(n_baskets AS DOUBLE)
             / (CAST(sa.s AS DOUBLE) * CAST(sb.s AS DOUBLE)) AS lift
    FROM pairs
    JOIN supp sa ON pairs.item_a = sa.item
    JOIN supp sb ON pairs.item_b = sb.item
    CROSS JOIN n
    """,
)
def basket_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair support + lift (operators/basket.py) over
    orders-as-baskets of parts: basket-keyed self-join (per-basket m²,
    m bounded by order width), hash-agg supports, independence-
    normalized lift. The association-analytics staple the reference
    lacks; mega-basket capping documented in the operator."""
    from dpe_energy_performance_analysis_etl_spark.operators.basket import (
        cooccurrence_lift,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return cooccurrence_lift(li, "l_orderkey", "l_partkey", min_support=2)


@register(
    "heavy_hitters_tokens",
    """
    SELECT tok AS item, CAST(count(*) AS BIGINT) AS cnt
    FROM (
      SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      FROM documents
    )
    GROUP BY tok
    """,
)
def heavy_hitters_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries heavy hitters (operators/heavyhitters.py) over the
    corpus token stream, run in the exact regime (k=256 >= distinct
    tokens — no decrement fires, so the bounded-state pipeline equals
    the exact count table deterministically; same exact-under-k
    contract as the KMV sketch). The sub-k regime's undercount /
    presence guarantees are property-tested in
    tests/test_heavyhitters.py."""
    from dpe_energy_performance_analysis_etl_spark.operators.heavyhitters import (
        heavy_hitters,
    )

    docs = read_documents(spark, sf_dir)
    toks = docs.select(
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0)
        ).alias("tok")
    )
    return heavy_hitters(toks, "tok", k=256)


@register(
    "correlation_matrix_lineitem",
    """
    WITH hat AS (
      SELECT CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS q,
             CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS d,
             CAST(floor(l_tax * 100 + 0.5) AS BIGINT) AS t
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
        AND l_tax IS NOT NULL
    ), m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(d) AS BIGINT) AS s_d,
             CAST(sum(q) AS BIGINT) AS s_q,
             CAST(sum(t) AS BIGINT) AS s_t,
             CAST(sum(d*d) AS BIGINT) AS s_dd,
             CAST(sum(d*q) AS BIGINT) AS s_dq,
             CAST(sum(d*t) AS BIGINT) AS s_dt,
             CAST(sum(q*q) AS BIGINT) AS s_qq,
             CAST(sum(q*t) AS BIGINT) AS s_qt,
             CAST(sum(t*t) AS BIGINT) AS s_tt
      FROM hat
    )
    SELECT 'l_discount' AS col_a, 'l_quantity' AS col_b, n,
           (CAST(n AS DOUBLE)*CAST(s_dq AS DOUBLE) - CAST(s_d AS DOUBLE)*CAST(s_q AS DOUBLE))
           / (sqrt(CAST(n AS DOUBLE)*CAST(s_dd AS DOUBLE) - CAST(s_d AS DOUBLE)*CAST(s_d AS DOUBLE))
            * sqrt(CAST(n AS DOUBLE)*CAST(s_qq AS DOUBLE) - CAST(s_q AS DOUBLE)*CAST(s_q AS DOUBLE))) AS corr
    FROM m
    UNION ALL
    SELECT 'l_discount', 'l_tax', n,
           (CAST(n AS DOUBLE)*CAST(s_dt AS DOUBLE) - CAST(s_d AS DOUBLE)*CAST(s_t AS DOUBLE))
           / (sqrt(CAST(n AS DOUBLE)*CAST(s_dd AS DOUBLE) - CAST(s_d AS DOUBLE)*CAST(s_d AS DOUBLE))
            * sqrt(CAST(n AS DOUBLE)*CAST(s_tt AS DOUBLE) - CAST(s_t AS DOUBLE)*CAST(s_t AS DOUBLE))) AS corr
    FROM m
    UNION ALL
    SELECT 'l_quantity', 'l_tax', n,
           (CAST(n AS DOUBLE)*CAST(s_qt AS DOUBLE) - CAST(s_q AS DOUBLE)*CAST(s_t AS DOUBLE))
           / (sqrt(CAST(n AS DOUBLE)*CAST(s_qq AS DOUBLE) - CAST(s_q AS DOUBLE)*CAST(s_q AS DOUBLE))
            * sqrt(CAST(n AS DOUBLE)*CAST(s_tt AS DOUBLE) - CAST(s_t AS DOUBLE)*CAST(s_t AS DOUBLE))) AS corr
    FROM m
    """,
)
def correlation_matrix_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass pairwise Pearson matrix (operators/correlate.py) over
    lineitem's small-magnitude money columns: all moment sums in a
    single map-side-combinable aggregate (one scan, one single-row
    exchange), correlations assembled in-plan. Exact bigint moments +
    fixed-order IEEE double assembly = engine-portable values
    (reference analogue: pandas .corr() on the gold frame)."""
    from dpe_energy_performance_analysis_etl_spark.operators.correlate import (
        correlation_matrix,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return correlation_matrix(
        li, {"l_quantity": 2, "l_discount": 2, "l_tax": 2}
    )


@register(
    "pagerank_supplier_graph",
    """
    WITH pairs AS (
      -- long node ids (cust*2 / supp*2+1): the per-round rank shuffle
      -- is keyed on node — 8-byte keys, not 'c123' strings (the LPA
      -- measurement: 1.5x at sf5 from key width alone)
      SELECT DISTINCT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS s
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ), e AS (
      SELECT c AS src, s AS dst FROM pairs
      UNION ALL
      SELECT s AS src, c AS dst FROM pairs
    ), nodes AS (
      SELECT DISTINCT src AS node FROM e
      UNION
      SELECT DISTINCT dst AS node FROM e
    ), deg AS (
      SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src
    ), r0 AS (
      SELECT node, CAST(1000000000000 AS BIGINT) AS r FROM nodes
    ), i1 AS (
      SELECT n.node,
             CAST(150000000000 + (85 * coalesce(x.inc, 0)) // 100 AS BIGINT) AS r
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS node, CAST(sum(r0.r // deg.deg) AS BIGINT) AS inc
        FROM r0 JOIN deg ON r0.node = deg.src JOIN e ON e.src = deg.src
        GROUP BY e.dst
      ) x ON n.node = x.node
    ), i2 AS (
      SELECT n.node,
             CAST(150000000000 + (85 * coalesce(x.inc, 0)) // 100 AS BIGINT) AS r
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS node, CAST(sum(i1.r // deg.deg) AS BIGINT) AS inc
        FROM i1 JOIN deg ON i1.node = deg.src JOIN e ON e.src = deg.src
        GROUP BY e.dst
      ) x ON n.node = x.node
    ), i3 AS (
      SELECT n.node,
             CAST(150000000000 + (85 * coalesce(x.inc, 0)) // 100 AS BIGINT) AS r
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS node, CAST(sum(i2.r // deg.deg) AS BIGINT) AS inc
        FROM i2 JOIN deg ON i2.node = deg.src JOIN e ON e.src = deg.src
        GROUP BY e.dst
      ) x ON n.node = x.node
    )
    SELECT node, r AS rank_scaled FROM i3
    """,
)
def pagerank_supplier_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer PageRank (operators/graph.py), 3 rounds over the
    customer<->supplier trade graph (distinct orders x lineitem
    pairs, symmetric edges). Scaled-integer ranks + true int64 `div`
    make every round a pure function of the input — bit-identical
    across partitionings AND engines, which is how an ITERATIVE
    numeric algorithm can sit behind the value-hash gate at all (the
    float formulation never could). Per round: one src-keyed join +
    one dst-keyed agg, both O(|E|)."""
    from dpe_energy_performance_analysis_etl_spark.operators.graph import (
        pagerank_fixed,
    )

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    pairs = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    # symmetrize via explode(array(...)) — the unionAll-of-selects form
    # re-ran the orders⋈lineitem distinct once per branch (the
    # repeated-subtree rule; both BroadcastHashJoin branches were
    # visible in cc2f0cf:plans/r12/pagerank_supplier_graph_before.txt)
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("c").alias("src"), F.col("s").alias("dst")),
                F.struct(F.col("s").alias("src"), F.col("c").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    return pagerank_fixed(edges, iterations=3)


@register(
    "histogram_quantiles_price",
    """
    WITH vals AS (
      SELECT l_extendedprice AS v FROM lineitem WHERE l_extendedprice IS NOT NULL
    ), b AS (
      SELECT CAST(min(v) AS DOUBLE) AS lo, CAST(max(v) AS DOUBLE) AS hi FROM vals
    ), hist AS (
      SELECT least(greatest(CAST(floor((v - lo) / ((hi - lo) / 1024)) AS BIGINT), 0), 1023) AS bucket,
             lo, (hi - lo) / 1024 AS width, CAST(count(*) AS BIGINT) AS cnt
      FROM vals CROSS JOIN b
      GROUP BY 1, 2, 3
    ), cum AS (
      SELECT bucket, lo, width, cnt,
             CAST(sum(cnt) OVER (ORDER BY bucket) AS BIGINT) AS cum,
             CAST((SELECT sum(cnt) FROM hist) AS BIGINT) AS n
      FROM hist
    ), t AS (
      SELECT cum.*, p.prob,
             greatest(CAST(ceil(prob * n) AS BIGINT), 1) AS target
      FROM cum CROSS JOIN (VALUES (2.5e-1), (5.0e-1), (9.0e-1), (9.9e-1)) p(prob)
    ), hit AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY prob ORDER BY bucket) AS rn
        FROM t WHERE cum >= target
      ) WHERE rn = 1
    )
    SELECT prob,
           lo + width * (CAST(bucket AS DOUBLE)
             + (CAST(target AS DOUBLE) - CAST(cum - cnt AS DOUBLE)) / CAST(cnt AS DOUBLE))
             AS q_est
    FROM hit
    """,
)
def histogram_quantiles_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable histogram quantiles (operators/quantiles.py) over
    l_extendedprice: the deterministic scale path for global
    percentiles — bucket counts are addition-mergeable and every step
    is fixed-order IEEE arithmetic, unlike GK approx_percentile whose
    merge order makes its exact output engine-specific (the reason it
    can only ever be rows-only in this gate)."""
    from dpe_energy_performance_analysis_etl_spark.operators.quantiles import (
        histogram_quantiles,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return histogram_quantiles(
        li, "l_extendedprice", probs=[0.25, 0.5, 0.9, 0.99], n_buckets=1024
    )


@register(
    "snapshot_diff_orders",
    """
    WITH old AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    ), new AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 13 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
             CASE WHEN o_orderkey % 11 = 0 THEN o_totalprice + 1 ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 97 != 0
      UNION ALL
      SELECT o_orderkey + 100000000, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey < 300
    ), j AS (
      SELECT o.o_orderkey AS ok, n.o_orderkey AS nk,
             o.o_orderstatus AS os, n.o_orderstatus AS ns,
             o.o_totalprice AS op, n.o_totalprice AS np
      FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
    )
    SELECT coalesce(ok, nk) AS o_orderkey,
           CASE WHEN ok IS NULL THEN 'added'
                WHEN nk IS NULL THEN 'removed'
                WHEN (os IS DISTINCT FROM ns) OR (op IS DISTINCT FROM np)
                  THEN 'changed' END AS change,
           CASE WHEN ok IS NULL OR nk IS NULL THEN ''
                ELSE array_to_string(list_sort(list_filter(
                  [CASE WHEN os IS DISTINCT FROM ns THEN 'o_orderstatus' END,
                   CASE WHEN op IS DISTINCT FROM np THEN 'o_totalprice' END],
                  x -> x IS NOT NULL)), ',') END AS changed_cols
    FROM j
    WHERE (ok IS NULL) OR (nk IS NULL)
       OR (os IS DISTINCT FROM ns) OR (op IS DISTINCT FROM np)
    """,
)
def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (operators/diff.py) between orders and a seeded
    mutation of it (every 97th key removed, every 11th price bumped,
    every 13th status flipped, keys < 300 re-added under shifted ids):
    one co-partitioned full-outer join, null-safe per-column change
    attribution, unchanged majority filtered in-plan. ``changed_cols``
    is emitted as a comma-joined sorted STRING (not ARRAY) because the
    driver's pandas canonicalizer cannot sort list values — the r4
    lesson; the harness now rejects non-scalar outputs outright."""
    from dpe_energy_performance_analysis_etl_spark.operators.diff import snapshot_diff

    old = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey")
    new = (
        old.where(k % 97 != 0)
        .select(
            "o_orderkey",
            F.when(k % 13 == 0, F.lit("X")).otherwise(F.col("o_orderstatus")).alias("o_orderstatus"),
            F.when(k % 11 == 0, F.col("o_totalprice") + 1).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
        )
        .unionAll(
            old.where(k < 300).select(
                (k + 100000000).alias("o_orderkey"), "o_orderstatus", "o_totalprice"
            )
        )
    )
    return snapshot_diff(old, new, ["o_orderkey"]).withColumn(
        "changed_cols", F.array_join(F.array_sort("changed_cols"), ",")
    )


# =====================================================================
# Retrieval & model-based scoring (text/retrieval.py)
# =====================================================================

@register(
    "bm25_topk_docs",
    """
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      FROM documents
    ), tf AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, unnest(toks) AS term
      FROM toks
    ), tfc AS (
      SELECT doc_id, dl, term, COUNT(*) AS tf FROM tf GROUP BY 1, 2, 3
    ), dfreq AS (
      SELECT term, COUNT(*) AS df FROM tfc GROUP BY 1
    ), corpus AS (
      SELECT COUNT(*) AS n_docs, SUM(dl) AS total_tokens
      FROM (SELECT DISTINCT doc_id, dl FROM tfc)
    ), scored AS (
      SELECT doc_id, term,
             ((CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
             * ((CAST(tf AS DOUBLE) * 2.2) /
                (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
                 (CAST(dl AS DOUBLE) / (CAST(total_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE))))))
             AS term_score
      FROM tfc JOIN dfreq USING (term) CROSS JOIN corpus
      WHERE term IN ('spark', 'join', 'window')
    ), per_doc AS (
      SELECT doc_id,
             SUM(CASE WHEN term = 'spark'  THEN term_score END) AS s_0,
             SUM(CASE WHEN term = 'join'   THEN term_score END) AS s_1,
             SUM(CASE WHEN term = 'window' THEN term_score END) AS s_2
      FROM scored GROUP BY 1
    ), totaled AS (
      SELECT doc_id,
             0.0 + COALESCE(s_0, 0.0) + COALESCE(s_1, 0.0) + COALESCE(s_2, 0.0) AS score
      FROM per_doc
    )
    SELECT doc_id, score, CAST(rn AS BIGINT) AS rank FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rn FROM totaled
    ) WHERE rn <= 10
    """,
)
def bm25_topk_docs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 for a fixed 3-term query (text/retrieval.py).
    Rational idf (no ln — libm 1-ulp skew breaks cross-engine hashes)
    and a fixed-order per-document sum via one conditional aggregate
    per query term. Plan: explode -> (doc,term) agg -> broadcast df/
    corpus stats -> conditional agg -> global top-k window over the
    ALREADY-FILTERED query-term rows (tiny), never the corpus."""
    from dpe_energy_performance_analysis_etl_spark.text.retrieval import bm25_topk

    return bm25_topk(read_documents(spark, sf_dir), ["spark", "join", "window"], k=10)


@register(
    "unigram_lm_quality",
    """
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      FROM documents
    ), tf AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, unnest(toks) AS term
      FROM toks
    ), tfc AS (
      SELECT doc_id, dl, term, COUNT(*) AS tf FROM tf GROUP BY 1, 2, 3
    ), vocab AS (
      SELECT term, SUM(tf) AS c_term FROM tfc GROUP BY 1
    ), total AS (
      SELECT CAST(SUM(c_term) AS BIGINT) AS c_total FROM vocab
    ), weighted AS (
      SELECT doc_id, dl, tf,
             (c_total * 1000000) // CAST(c_term AS BIGINT) AS w
      FROM tfc JOIN vocab USING (term) CROSS JOIN total
    )
    SELECT doc_id, dl AS n_tokens,
           CAST(CAST(SUM(tf * w) AS BIGINT) AS DOUBLE)
             / (CAST(dl AS DOUBLE) * 1000000.0) AS mean_inv_prob
    FROM weighted GROUP BY doc_id, dl
    """,
)
def unigram_lm_quality_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM surprisal proxy (text/retrieval.py): per-token
    weight = integer-scaled inverse relative corpus frequency, so the
    per-doc accumulation is an exact order-independent BIGINT sum and
    only the final mean divides as double. Vocab + corpus total are
    broadcast; the corpus shuffles once for the tf agg."""
    from dpe_energy_performance_analysis_etl_spark.text.retrieval import unigram_lm_scores

    return unigram_lm_scores(read_documents(spark, sf_dir))


@register(
    "hashed_classifier_gate",
    """
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      FROM documents
    ), tf AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, unnest(toks) AS term
      FROM toks
    ), tfc AS (
      SELECT doc_id, dl, term, COUNT(*) AS tf FROM tf GROUP BY 1, 2, 3
    ), weighted AS (
      SELECT doc_id, dl, tf,
             CAST(((list_reduce(
                      list_prepend(CAST(0 AS BIGINT),
                        list_transform(regexp_extract_all(term, '.'),
                                       c -> CAST(ascii(c) AS BIGINT))),
                      (acc, x) -> (acc * 131 + x) % 1000000000000000)
                    % 1024) * 2654435761) % 2001 AS BIGINT) - 1000 AS w
      FROM tfc
    ), per_doc AS (
      SELECT doc_id, dl, CAST(SUM(tf * w) AS BIGINT) AS margin_scaled
      FROM weighted GROUP BY doc_id, dl
    )
    SELECT doc_id, dl AS n_tokens,
           CAST(margin_scaled AS DOUBLE) / (CAST(dl AS DOUBLE) * 1000.0) AS margin,
           0.5 + 0.5 * (CAST(margin_scaled AS DOUBLE) / (CAST(dl AS DOUBLE) * 1000.0))
               / (1.0 + abs(CAST(margin_scaled AS DOUBLE) / (CAST(dl AS DOUBLE) * 1000.0))) AS prob,
           CAST(margin_scaled AS DOUBLE) / (CAST(dl AS DOUBLE) * 1000.0) >= 0 AS keep
    FROM per_doc
    """,
)
def hashed_classifier_gate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed bag-of-words linear classifier (text/retrieval.py):
    portable rolling-hash token buckets, Knuth-multiplicative integer
    weights, exact BIGINT margins, rational sigmoid (no exp). The
    weight is computed inline per row — zero joins beyond the tf agg,
    which is the shape a real exported hashed linear model runs at
    on a 100 TB corpus."""
    from dpe_energy_performance_analysis_etl_spark.text.retrieval import hashed_classifier_scores

    return hashed_classifier_scores(read_documents(spark, sf_dir))


# =====================================================================
# Entity resolution & graph analytics (operators/entity.py, graph.py)
# =====================================================================

@register(
    "entity_match_ed1",
    """
    WITH dirty AS (
      SELECT c_custkey AS r_id, c_nationkey,
             substr(c_name, 1, 9 + (c_custkey % 9))
               || substr(c_name, 11 + (c_custkey % 9)) AS r_name
      FROM customer WHERE c_custkey % 3 = 1
    ), lv AS (
      SELECT c_custkey, c_name, c_nationkey,
             unnest(list_transform(range(0, len(c_name) + 1),
               i -> CASE WHEN i = 0 THEN c_name
                         ELSE substr(c_name, 1, CAST(i - 1 AS INT))
                              || substr(c_name, CAST(i + 1 AS INT)) END)) AS variant
      FROM customer
    ), rv AS (
      SELECT r_id, r_name, c_nationkey,
             unnest(list_transform(range(0, len(r_name) + 1),
               i -> CASE WHEN i = 0 THEN r_name
                         ELSE substr(r_name, 1, CAST(i - 1 AS INT))
                              || substr(r_name, CAST(i + 1 AS INT)) END)) AS variant
      FROM dirty
    ), cand AS (
      SELECT DISTINCT c_custkey, c_name, lv.c_nationkey, r_id, r_name
      FROM lv JOIN rv ON lv.c_nationkey = rv.c_nationkey AND lv.variant = rv.variant
    )
    SELECT c_custkey, c_name, c_nationkey, r_id, r_name,
           CAST(levenshtein(c_name, r_name) AS INT) AS edit_dist
    FROM cand
    WHERE levenshtein(c_name, r_name) <= 1
    """,
)
def entity_match_ed1_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity resolution (operators/entity.py): match clean
    customer names against a deterministically corrupted registry
    (digit deleted at position custkey%9) using deletion-neighborhood
    candidates (FastSS) + levenshtein verification, blocked on
    nationkey. Candidates are O(n*L) explode + one equi-join — never
    the O(n^2) cartesian a naive fuzzy join needs, and immune to the
    prefix-skew trap (every name here shares 'Customer#0000…')."""
    from dpe_energy_performance_analysis_etl_spark.operators.entity import fuzzy_join_ed1

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    p = F.col("c_custkey") % 9
    dirty = cust.filter(F.col("c_custkey") % 3 == 1).select(
        F.col("c_custkey").alias("r_id"),
        "c_nationkey",
        F.concat(
            F.substring(F.col("c_name"), F.lit(1), F.lit(9) + p),
            F.substr(F.col("c_name"), F.lit(11) + p),
        ).alias("r_name"),
    )
    matched = fuzzy_join_ed1(cust, dirty, "c_name", "r_name", block=["c_nationkey"])
    return matched.select(
        "c_custkey", "c_name", "c_nationkey", "r_id", "r_name",
        F.col("edit_dist").cast("int").alias("edit_dist"),
    )


@register(
    "triangle_count_parts",
    """
    WITH e AS (
      SELECT least(a.l_partkey, b.l_partkey) AS a,
             greatest(a.l_partkey, b.l_partkey) AS b
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ), deg AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS deg FROM (
        SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e
      ) GROUP BY 1
    ), tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM e e1 JOIN e e2 ON e1.b = e2.a
                JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ), corners AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
        SELECT x AS v FROM tri UNION ALL SELECT y AS v FROM tri
        UNION ALL SELECT z AS v FROM tri
      ) GROUP BY 1
    )
    SELECT deg.v, deg.deg, COALESCE(n_triangles, 0) AS n_triangles
    FROM deg LEFT JOIN corners ON deg.v = corners.v
    """,
)
def triangle_count_parts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle counts over the RECURRING co-purchase graph
    (operators/graph.py triangle_counts): edges are part pairs seen in
    >= 2 distinct orders — the support threshold is what makes the
    workload scale-stable (single-co-occurrence noise edges grow
    linearly with the data and densified the graph to 1.2M edges at
    sf0.1; recurring pairs stay ~4k). Degree-oriented wedge
    enumeration (Suri & Vassilvitskii WWW'11) — each triangle found
    once from its lowest-degree corner, join fan-out bounded by
    arboricity, so hub parts cannot create a quadratic reducer. The
    oracle enumerates triangles the canonical a<b<c way; results are
    identical, orientation is purely the scale strategy."""
    from dpe_energy_performance_analysis_etl_spark.operators.graph import triangle_counts

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select("l_orderkey", "l_partkey")
    from dpe_energy_performance_analysis_etl_spark.operators.graph import (
        cooccurrence_pairs,
    )

    # basket-array pair build (r12, see cooccurrence_pairs)
    edges = cooccurrence_pairs(li, "l_orderkey", "l_partkey").select(
        "src", "dst"
    )
    return triangle_counts(edges)


# =====================================================================
# Splits, per-group sampling, n-gram counts (text/mixing.py, analysis.py)
# =====================================================================

@register(
    "split_assign_docs",
    """
    WITH b AS (
      SELECT doc_id, source,
             ((doc_id * 2654435761) % 4294967296) % 10000 AS bucket
      FROM documents
    )
    SELECT doc_id, source,
           CASE WHEN bucket < 8000 THEN 'train'
                WHEN bucket < 9000 THEN 'val'
                ELSE 'test' END AS split
    FROM b
    """,
)
def split_assign_docs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (text/mixing.py
    split_assign): hash-bucketed by doc_id, zero shuffle, stable
    under corpus growth — a document can never silently migrate
    between splits on rerun (the re-randomization leakage bug)."""
    from dpe_energy_performance_analysis_etl_spark.text.mixing import split_assign

    docs = read_documents(spark, sf_dir).select("doc_id", "source")
    return split_assign(docs, "doc_id")


@register(
    "group_sample_reservoir",
    """
    WITH h AS (
      SELECT doc_id, lang, source,
             ((doc_id * 2654435761) % 4294967296) % 10000 AS hb
      FROM documents
    )
    SELECT doc_id, lang, source, CAST(rn AS BIGINT) AS sample_rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hb, doc_id) AS rn
      FROM h
    ) WHERE rn <= 5
    """,
)
def group_sample_reservoir_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language 5-doc sample (text/mixing.py
    group_sample_topk): reservoir semantics with a portable hash in
    place of the RNG — reproducible across engines/partitionings,
    one hash-partitioned window, hot-group cap documented."""
    from dpe_energy_performance_analysis_etl_spark.text.mixing import group_sample_topk

    docs = read_documents(spark, sf_dir).select("doc_id", "lang", "source")
    return group_sample_topk(docs, ["lang"], "doc_id", k=5)


@register(
    "ngram_counts_pruned",
    """
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      FROM documents
    ), grams AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
                    i -> t[i] || ' ' || t[i + 1])) AS gram
      FROM toks
    )
    SELECT gram,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM grams
    GROUP BY 1
    HAVING COUNT(*) >= 5
    """,
)
def ngram_counts_pruned_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pruned bigram count table (text/analysis.py ngrams_expr) — the
    LM-count-table build step: explode bigrams, count occurrences +
    document frequency, min-count prune (count >= 5, the standard
    KenLM-style threshold that drops the singleton long tail, which
    at 100 TB is ~80% of distinct grams and pure noise). One explode
    + one partial-aggregated shuffle on the gram key."""
    from dpe_energy_performance_analysis_etl_spark.text.analysis import ngrams_expr

    docs = read_documents(spark, sf_dir)
    grams = docs.select("doc_id", F.explode(ngrams_expr("text", 2)).alias("gram"))
    return (
        grams.groupBy("gram")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .filter(F.col("n_occurrences") >= 5)
    )


# =====================================================================
# Embedding compression (similarity/projection.py)
# =====================================================================

def _proj_oracle_sql(d_in: int = 64, d_out: int = 8) -> str:
    """Build the projection oracle: one list-fold per output coord,
    mirroring the Spark fold's summation order term for term."""
    def coord(j: int) -> str:
        return (
            "list_reduce(list_prepend(0.0, list_transform(range(0, %d), "
            "i -> CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE) * "
            "(CASE WHEN (i * 2654435761 + %d) %% 2 = 0 THEN 1.0 ELSE -1.0 END))), "
            "(acc, x) -> acc + x) / sqrt(%s)" % (d_in, j * 40503, float(d_out))
        )
    p_cols = ",\n             ".join(f"{coord(j)} AS p_{j}" for j in range(d_out))
    sq = " + ".join(f"p_{j} * p_{j}" for j in range(d_out))
    return f"""
    WITH proj AS (
      SELECT vec_id, label,
             {p_cols},
             list_reduce(list_prepend(0.0, list_transform(range(0, {d_in}),
               i -> CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE)
                    * CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE))),
               (acc, x) -> acc + x) AS orig_sq
      FROM embeddings
    )
    SELECT vec_id, label, {", ".join(f"p_{j}" for j in range(d_out))},
           CASE WHEN orig_sq > 0 THEN (0.0 + {sq}) / orig_sq ELSE 0.0 END AS norm_ratio
    FROM proj
    """


@register("random_projection_compress", _proj_oracle_sql())
def random_projection_compress_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-dim -> 8-dim Rademacher JL projection
    (similarity/projection.py): seedless integer sign formula, ordered
    double folds, zero shuffle — compresses a 100 TB embedding table
    at scan speed as the front-end to ANN/dedup. norm_ratio is the JL
    distortion diagnostic."""
    from dpe_energy_performance_analysis_etl_spark.similarity.projection import project_embeddings

    return project_embeddings(read_embeddings(spark, sf_dir), "embedding", 64, 8)


# =====================================================================
# Sequence analytics: transitions & attribution (operators/temporal.py)
# =====================================================================

@register(
    "event_transition_matrix",
    """
    WITH ordered AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM events
    ), pairs AS (
      SELECT prev_type, event_type AS next_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM ordered WHERE prev_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT prev_type, next_type, n,
           CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY prev_type) AS DOUBLE) AS prob
    FROM pairs
    """,
)
def event_transition_matrix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences (operators/temporal.py event_transitions): one
    user-keyed window pass + one aggregation; row-count output is
    |types|^2. prob divides two exact BIGINTs — engine-exact."""
    from dpe_energy_performance_analysis_etl_spark.operators.temporal import event_transitions

    return event_transitions(read_events(spark, sf_dir))


@register(
    "attribution_first_last",
    """
    WITH conv AS (
      SELECT user_id, ts AS conv_ts, event_id AS conv_tb FROM (
        SELECT user_id, ts, event_id,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events WHERE event_type = 'purchase'
      ) WHERE rn = 1
    ), prior AS (
      SELECT e.user_id, e.ts, e.event_id, e.event_type
      FROM events e JOIN conv c ON e.user_id = c.user_id
      WHERE e.ts < c.conv_ts OR (e.ts = c.conv_ts AND e.event_id < c.conv_tb)
    ), touches AS (
      SELECT user_id,
             (list(event_type ORDER BY ts, event_id))[1] AS first_touch,
             (list(event_type ORDER BY ts DESC, event_id DESC))[1] AS last_touch,
             CAST(COUNT(*) AS BIGINT) AS n_prior_events
      FROM prior GROUP BY 1
    )
    SELECT c.user_id, c.conv_ts, first_touch, last_touch,
           COALESCE(n_prior_events, 0) AS n_prior_events
    FROM conv c LEFT JOIN touches t ON c.user_id = t.user_id
    """,
)
def attribution_first_last_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last-touch conversion attribution
    (operators/temporal.py conversion_attribution): min-struct
    aggregates on the user key, no full-table window; the
    one-row-per-converting-user table joins back broadcast/AQE."""
    from dpe_energy_performance_analysis_etl_spark.operators.temporal import conversion_attribution

    return conversion_attribution(read_events(spark, sf_dir), "purchase")


@register(
    "low_value_runs",
    """
    WITH rn AS (
      SELECT user_id, ts, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn_all,
             value < 30.0 AS m
      FROM events
    ), matched AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, m ORDER BY ts, event_id) AS rn_m
      FROM rn
    ), islands AS (
      SELECT user_id, ts, event_id, value, rn_all - rn_m AS island
      FROM matched WHERE m
    )
    SELECT user_id,
           (list(ts ORDER BY ts, event_id))[1] AS start_ts,
           (list(event_id ORDER BY ts, event_id))[1] AS start_event_id,
           (list(ts ORDER BY ts DESC, event_id DESC))[1] AS end_ts,
           (list(event_id ORDER BY ts DESC, event_id DESC))[1] AS end_event_id,
           CAST(COUNT(*) AS BIGINT) AS run_len,
           MIN(value) AS min_value,
           MAX(value) AS max_value
    FROM islands
    GROUP BY user_id, island
    HAVING COUNT(*) >= 3
    """,
)
def low_value_runs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands run segmentation (operators/temporal.py
    threshold_run_segments): maximal runs of >= 3 consecutive
    below-threshold events per user — the same operator that does
    audio silence detection over RMS frame tables (see
    tests/test_media_segments.py for the WAV end-to-end). Both
    row_numbers share one (user) shuffle + one sort."""
    from dpe_energy_performance_analysis_etl_spark.operators.temporal import threshold_run_segments

    ev = read_events(spark, sf_dir).select("user_id", "ts", "event_id", "value")
    return threshold_run_segments(
        ev, "user_id", ["ts", "event_id"], "value", threshold=30.0, min_len=3
    )


# =====================================================================
# Analytics widening: recommender, binning, chi2, paths, winsorize,
# inverted index
# =====================================================================

@register(
    "item_item_cosine_sim",
    """
    WITH items AS (
      SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem
    ), n AS (
      SELECT CAST(count(DISTINCT basket) AS BIGINT) AS n_baskets FROM items
    ), supp AS (
      SELECT item, CAST(count(*) AS BIGINT) AS s FROM items GROUP BY item
    ), pairs AS (
      SELECT a.item AS item_a, b.item AS item_b,
             CAST(count(*) AS BIGINT) AS support
      FROM items a JOIN items b
        ON a.basket = b.basket AND a.item < b.item
      GROUP BY 1, 2
      HAVING count(*) >= 3
    )
    SELECT item_a, item_b, support,
           sa.s AS supp_a, sb.s AS supp_b,
           CAST(support AS DOUBLE) * CAST(n_baskets AS DOUBLE)
             / (CAST(sa.s AS DOUBLE) * CAST(sb.s AS DOUBLE)) AS lift,
           CAST(support AS DOUBLE)
             / sqrt(CAST(sa.s AS DOUBLE) * CAST(sb.s AS DOUBLE)) AS cosine
    FROM pairs
    JOIN supp sa ON pairs.item_a = sa.item
    JOIN supp sb ON pairs.item_b = sb.item
    CROSS JOIN n
    """,
)
def item_item_cosine_sim_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item cosine recommender weights (operators/basket.py
    item_item_cosine) over orders-as-baskets: bounded per-basket pair
    generation + IEEE-exact sqrt normalization (Sarwar et al. WWW'01
    neighborhood CF)."""
    from dpe_energy_performance_analysis_etl_spark.operators.basket import item_item_cosine

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return item_item_cosine(li, "l_orderkey", "l_partkey", min_support=3)


@register(
    "equi_depth_bins_price",
    """
    WITH t AS (
      SELECT o_totalprice,
             ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bin
      FROM orders
    )
    SELECT CAST(bin AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(o_totalprice) AS lo,
           MAX(o_totalprice) AS hi
    FROM t GROUP BY 1
    """,
)
def equi_depth_bins_price_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency decile binning of order prices
    (operators/quantiles.py equi_depth_bins): rank-based ntile with a
    unique tiebreak, skew-proof histogram boundaries. The global sort
    is the exact-path cost; histogram_quantiles is the sortless
    approximate twin."""
    from dpe_energy_performance_analysis_etl_spark.operators.quantiles import equi_depth_bins

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select("o_totalprice", "o_orderkey")
    return equi_depth_bins(orders, "o_totalprice", n_bins=10, order_tiebreak="o_orderkey")


@register(
    "contingency_chi2_cells",
    """
    WITH cells AS (
      SELECT o_orderpriority AS row_val, o_orderstatus AS col_val,
             CAST(COUNT(*) AS BIGINT) AS obs
      FROM orders GROUP BY 1, 2
    ), rt AS (
      SELECT row_val, CAST(SUM(obs) AS BIGINT) AS row_total FROM cells GROUP BY 1
    ), ct AS (
      SELECT col_val, CAST(SUM(obs) AS BIGINT) AS col_total FROM cells GROUP BY 1
    ), nn AS (
      SELECT CAST(SUM(obs) AS BIGINT) AS n FROM cells
    )
    SELECT row_val, col_val, obs, row_total, col_total, n,
           CAST(row_total * col_total AS DOUBLE) / CAST(n AS DOUBLE) AS expected,
           (CAST(obs AS DOUBLE) - CAST(row_total * col_total AS DOUBLE) / CAST(n AS DOUBLE))
           * (CAST(obs AS DOUBLE) - CAST(row_total * col_total AS DOUBLE) / CAST(n AS DOUBLE))
           / (CAST(row_total * col_total AS DOUBLE) / CAST(n AS DOUBLE)) AS chi2_contrib
    FROM cells JOIN rt USING (row_val) JOIN ct USING (col_val) CROSS JOIN nn
    """,
)
def contingency_chi2_cells_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square contingency cells for order priority x status
    (operators/stats.py contingency_cells): per-cell expected counts
    and chi2 contributions in exact rational arithmetic; the global
    statistic is the caller's fixed-order sum over the tiny cell
    table (a parallel double SUM is last-ulp nondeterministic)."""
    from dpe_energy_performance_analysis_etl_spark.operators.stats import contingency_cells

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return contingency_cells(orders, "o_orderpriority", "o_orderstatus")


@register(
    "user_event_paths",
    """
    WITH per_user AS (
      SELECT user_id,
             array_to_string((list(event_type ORDER BY ts, event_id))[1:3], '>') AS path
      FROM events GROUP BY user_id
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM per_user GROUP BY 1
    """,
)
def user_event_paths_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry-path mining (operators/temporal.py common_event_paths):
    each user's first 3 event types as an ordered path string, counted
    across users. Struct-sort makes collect_list deterministic; one
    user-key aggregation + a count over the tiny path table."""
    from dpe_energy_performance_analysis_etl_spark.operators.temporal import common_event_paths

    return common_event_paths(read_events(spark, sf_dir), k=3)


@register(
    "winsorize_acctbal",
    """
    WITH bounds AS (
      SELECT c_mktsegment,
             quantile_cont(c_acctbal, 0.05) AS lo,
             quantile_cont(c_acctbal, 0.95) AS hi
      FROM customer GROUP BY 1
    )
    SELECT c_custkey, c.c_mktsegment, c_acctbal,
           greatest(least(c_acctbal, hi), lo) AS c_acctbal_winsorized
    FROM customer c JOIN bounds b ON c.c_mktsegment = b.c_mktsegment
    """,
)
def winsorize_acctbal_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment winsorization of account balances
    (operators/aggregate.py winsorize): exact 5%/95% quantiles in a
    tiny per-group table broadcast back, row-local clip. approx=True
    is the documented single-pass 100 TB path."""
    from dpe_energy_performance_analysis_etl_spark.operators.aggregate import winsorize

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    return winsorize(cust, "c_acctbal", ["c_mktsegment"], lo=0.05, hi=0.95).select(
        "c_custkey", "c_mktsegment", "c_acctbal", "c_acctbal_winsorized"
    )
