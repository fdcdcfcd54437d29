"""Text-analysis + dedup queries over the documents table.

The training-data-pipeline surface: exact dedup, fingerprinting, token
stats, quality scoring, language ID, n-gram Jaccard near-dup, MinHash-LSH
and SimHash candidates. SQL-expressible ops carry DuckDB oracles; the
hash-sketch ops (engine-specific hash functions) are rows-only checked
and covered by pytest instead.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from lakehouse_tacklebox_spark.operators import dedup as D
from lakehouse_tacklebox_spark.operators import text as TX
from lakehouse_tacklebox_spark.functions import ppm
from lakehouse_tacklebox_spark.queries import register
from lakehouse_tacklebox_spark.sources import load_tables


def _spread(df, key: str = "doc_id"):
    """Hash-repartition to full parallelism before heavy per-row compute.

    The gate corpus arrives as one small parquet file → one input split,
    which serializes shingling/hashing on a single core regardless of
    cluster size. A 100 TB corpus arrives as many splits and doesn't need
    this; for small-file inputs the tiny shuffle buys back every core.
    """
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism, key)


@register(
    "dedup_exact_stats",
    tags=("dedup", "text"),
    oracle="""
    WITH fp AS (
        SELECT doc_id,
               sha256(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fingerprint
        FROM documents
    )
    SELECT CAST(count(*) AS BIGINT)                    AS total_docs,
           CAST(count(DISTINCT fingerprint) AS BIGINT) AS distinct_docs,
           CAST(count(*) - count(DISTINCT fingerprint) AS BIGINT) AS duplicate_rows
    FROM fp
    """,
)
def dedup_exact_stats(spark, sf_dir):
    """Exact-dup census via normalized-content SHA-256 fingerprints."""
    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    fp = D.fingerprint_sha2(d, "text")
    return fp.agg(
        F.count(F.lit(1)).alias("total_docs"),
        F.countDistinct("fingerprint").alias("distinct_docs"),
        (F.count(F.lit(1)) - F.countDistinct("fingerprint")).alias("duplicate_rows"),
    )


@register(
    "dedup_exact_survivors",
    tags=("dedup", "text"),
    oracle="""
    SELECT doc_id, lang, source, n_chars
    FROM (
        SELECT *, row_number() OVER (
                   PARTITION BY sha256(lower(regexp_replace(text, '\\s+', ' ', 'g')))
                   ORDER BY doc_id) AS rn
        FROM documents
    ) WHERE rn = 1
    """,
)
def dedup_exact_survivors(spark, sf_dir):
    """Exact dedup keeping the lowest doc_id per content fingerprint."""
    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    return D.dedup_exact(D.fingerprint_sha2(d, "text"), cols=["fingerprint"], tiebreaker="doc_id").select(
        "doc_id", "lang", "source", "n_chars"
    )


@register(
    "text_token_stats",
    tags=("text",),
    oracle="""
    SELECT lang,
           count(*)                                              AS docs,
           CAST(sum(len(string_split_regex(lower(trim(text)), '\\s+'))) AS BIGINT) AS total_tokens,
           round(avg(len(string_split_regex(lower(trim(text)), '\\s+'))), 4)       AS avg_tokens,
           round(avg(n_chars), 4)                                AS avg_chars
    FROM documents
    GROUP BY lang
    """,
)
def text_token_stats(spark, sf_dir):
    """Whitespace token counting rolled up per language."""
    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    return d.withColumn("n_tokens", TX.token_count("text")).groupBy("lang").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    )


@register(
    "text_quality",
    tags=("text",),
    oracle="""
    WITH feats AS (
        SELECT doc_id, source,
               len(string_split_regex(lower(trim(text)), '\\s+')) AS n_tokens,
               round(CAST(length(text) AS DOUBLE)
                     / greatest(len(string_split_regex(lower(trim(text)), '\\s+')), 1), 4) AS mean_token_len,
               round(CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
                     / greatest(length(text), 1), 4) AS punct_ratio,
               round(CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
                     / greatest(length(text), 1), 4) AS digit_ratio
        FROM documents
    )
    SELECT source,
           count(*)                        AS docs,
           round(avg(n_tokens), 4)         AS avg_tokens,
           round(avg(mean_token_len), 4)   AS avg_token_len,
           round(avg(punct_ratio), 4)      AS avg_punct_ratio,
           round(avg(digit_ratio), 4)      AS avg_digit_ratio
    FROM feats
    GROUP BY source
    """,
)
def text_quality(spark, sf_dir):
    """Quality-signal features aggregated per source."""
    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    feats = TX.quality_features(d, "text")
    return feats.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs"),
        F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
        F.round(F.avg("mean_token_len"), 4).alias("avg_token_len"),
        F.round(F.avg("punct_ratio"), 4).alias("avg_punct_ratio"),
        F.round(F.avg("digit_ratio"), 4).alias("avg_digit_ratio"),
    )


@register(
    "text_langid",
    tags=("text", "langid"),
    oracle="""
    WITH toks AS (
        SELECT lang AS labeled,
               string_split_regex(lower(trim(text)), '\\s+') AS t
        FROM documents
    ), scored AS (
        SELECT labeled,
               len(list_filter(t, x -> list_contains(['the','and','of','to','in'], x))) AS s_en,
               len(list_filter(t, x -> list_contains(['der','die','und','das','ist'], x))) AS s_de,
               len(list_filter(t, x -> list_contains(['le','la','et','les','des'], x))) AS s_fr,
               len(list_filter(t, x -> list_contains(['el','la','que','de','los'], x))) AS s_es,
               len(list_filter(t, x -> list_contains(['的','是','了','在','我'], x))) AS s_zh
        FROM toks
    ), pred AS (
        SELECT labeled,
               CASE WHEN greatest(s_en, s_de, s_fr, s_es, s_zh) = 0 THEN 'und'
                    WHEN s_zh = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'zh'
                    WHEN s_fr = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'fr'
                    WHEN s_es = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'es'
                    WHEN s_en = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'en'
                    ELSE 'de'
               END AS predicted
        FROM scored
    )
    SELECT labeled, predicted, count(*) AS docs
    FROM pred GROUP BY labeled, predicted
    """,
)
def text_langid(spark, sf_dir):
    """Stopword-marker language ID vs the labeled lang column:
    confusion-matrix counts per (labeled, predicted). The heuristic is
    pure set algebra (marker-hit argmax; array_max over (score, lang)
    structs breaks ties toward the greatest lang code), so the oracle
    replicates it relationally — the CASE chain checks languages in
    descending code order to mirror the struct-max tie-break."""
    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    return (
        d.withColumn("predicted", TX.detect_language("text"))
        .groupBy(F.col("lang").alias("labeled"), F.col("predicted"))
        .agg(F.count(F.lit(1)).alias("docs"))
    )


@register(
    "text_fingerprint_groups",
    tags=("text", "dedup"),
    oracle="""
    SELECT min(doc_id) AS representative, count(*) AS cluster_size
    FROM (
        SELECT doc_id,
               array_to_string(string_split_regex(lower(trim(text)), '\\s+')[1:16], ' ') AS head
        FROM documents
    )
    GROUP BY head
    """,
)
def text_fingerprint_groups(spark, sf_dir):
    """Rolling-hash prefix fingerprint → cluster sizes (doc clustering).

    The engine groups on xxhash64 of the normalized 16-token prefix so
    the shuffle key is 8 bytes; the fingerprint VALUE is engine-specific
    and stays out of the result, making the clustering itself
    oracle-checkable: DuckDB groups on the prefix string and must find
    identical (representative, cluster_size) rows (64-bit collisions are
    negligible at any gate scale)."""
    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    return (
        d.withColumn("fp", TX.rolling_fingerprint("text", prefix_tokens=16))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("cluster_size"), F.min("doc_id").alias("representative"))
        .select("representative", "cluster_size")
    )


@register(
    "dedup_ngram_jaccard",
    tags=("dedup", "text"),
    bench=True,
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
        FROM documents
    ), sh AS (
        SELECT doc_id,
               list_distinct([array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)]) AS shingles
        FROM toks WHERE len(t) >= 3
    ), sizes AS (
        SELECT doc_id, len(shingles) AS sz FROM sh
    ), ex AS (
        SELECT doc_id, unnest(shingles) AS s FROM sh
    ), inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b,
           round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.2
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact 3-gram Jaccard similarity pairs ≥ 0.2.

    Explode-join-on-shingle (never a cross join): the verification stage
    of the LSH pipeline, oracle-checkable because it is pure set algebra.
    """
    d = _spread(load_tables(spark, sf_dir, ["documents"])["documents"])
    # Hashed shingles (array<long>): the grams never exist as strings, so
    # the explode/shuffle below moves fixed-width longs end-to-end. No
    # size>0 pre-filter — explode drops empty arrays itself, and a filter
    # here gets predicate-pushed below the _spread repartition where its
    # inlined shingle expression would re-run single-threaded on the scan.
    sh = D.shingle_hashes(d.select("doc_id", "text"), "text", n=3)
    # max_doc_freq=500 is a no-op at every gate SF (max shingle DF: 25 at
    # sf0.1) so the oracle comparison stays exact, while bounding the
    # postings self-join on boilerplate-heavy corpora.
    pairs = D.jaccard_pairs(sh, "doc_id", "shingles", threshold=0.2, max_doc_freq=500, hashed=True)
    return pairs.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


@register(
    "dedup_minhash_lsh",
    bench=True,
    tags=("dedup", "text", "lsh"),
    # Oracled against EXACT Jaccard pairs (same SQL as dedup_ngram_jaccard):
    # the verify stage computes exact Jaccard on candidates, so the output
    # equals the exact pair set whenever LSH recall is 1 — with 16 bands ×
    # 3 rows, a true pair at the corpus' similarity floor (j ≥ 0.8 at every
    # SF) is missed with p = (1-0.8³)^16 ≈ 1e-5; xxhash64 is deterministic,
    # so the gate result is stable run-to-run. A rows-only recall pytest
    # still covers the approximate regime below the floor.
    #
    # PRECONDITION (measured, round 4): the oracle equivalence is a
    # property of the CORPUS, not the operator — it requires the true
    # pair-similarity distribution to sit above the banded recall knee
    # (j ≳ 0.5 for 16×3). On a synthetic sf1 corpus with many weak-overlap
    # pairs, every pair at j ∈ [0.20, 0.31] was missed (916 of 3780 —
    # the textbook S-curve, P[candidate] = 1-(1-j³)^16 ≈ 0.15 at j=0.25)
    # while all high-floor pairs were found. That regime is what the
    # recall pytest bounds; on such corpora use dedup_ngram_jaccard
    # (exact, capped postings) or raise the query threshold.
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
        FROM documents
    ), sh AS (
        SELECT doc_id,
               list_distinct([array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)]) AS shingles
        FROM toks WHERE len(t) >= 3
    ), sizes AS (
        SELECT doc_id, len(shingles) AS sz FROM sh
    ), ex AS (
        SELECT doc_id, unnest(shingles) AS s FROM sh
    ), inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b,
           round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.2
    """,
)
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash(48) + LSH(16 bands × 3 rows) candidate pairs, verified with
    exact Jaccard — the 100 TB near-dup path. Candidate generation is a
    band-bucket join and verification scores ONLY the candidate pairs
    (array_intersect per pair), so no stage is quadratic in the corpus."""
    d = _spread(load_tables(spark, sf_dir, ["documents"])["documents"])
    # The shingled corpus feeds three plan branches (signatures + both
    # sides of the verify join) — materialize it once. Hashed shingles:
    # signatures seed-hash the 8-byte gram hashes and the pair-verify
    # array_intersect compares longs, never gram strings. No size>0
    # filter before the persist: it would be predicate-pushed (with the
    # whole shingle expression inlined) below the repartition into the
    # single-task scan stage; too-short docs are dropped on the cheap
    # after signing instead (their array_min over an empty array is null).
    sh = D.shingle_hashes(d.select("doc_id", "text"), "text", n=3).persist()
    sigs = D.minhash_signatures(sh, "doc_id", "shingles", num_hashes=48).filter(
        F.col("sig").getItem(0).isNotNull()
    )
    cand = D.lsh_candidate_pairs(sigs, "doc_id", bands=16, rows_per_band=3)
    verified = D.jaccard_for_pairs(cand, sh, "doc_id", "shingles")
    return verified.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard")).filter(F.col("jaccard") >= 0.2)


# The simhash oracle recomputes the signature brute-force in DuckDB using
# the engine-portable md5-based 60-bit token hash (md5_hash60), then scores
# every pair; the Spark side's pigeonhole block join is exact (distance ≤ 3
# over 4 blocks ⇒ ≥ 1 identical block), so the two pair sets must be equal.
_SIMHASH_BITS = 60
_SIMHASH_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
        FROM documents
    ), hashed AS (
        SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h
        FROM toks
    ), votes AS (
        SELECT doc_id,
               {", ".join(f"sum(CASE WHEN (h & (1::BIGINT << {i})) != 0 THEN 1 ELSE -1 END) AS b{i}" for i in range(_SIMHASH_BITS))}
        FROM hashed GROUP BY doc_id
    ), sims AS (
        SELECT doc_id,
               ({" + ".join(f"CASE WHEN b{i} > 0 THEN (1::BIGINT << {i}) ELSE 0 END" for i in range(_SIMHASH_BITS))}) AS sh
        FROM votes
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
    FROM sims a JOIN sims b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sh, b.sh)) <= 3
"""


@register(
    "dedup_simhash",
    tags=("dedup", "text", "simhash"),
    oracle=_SIMHASH_ORACLE,
)
def dedup_simhash(spark, sf_dir):
    """SimHash near-dup candidates within Hamming distance 3 via the
    pigeonhole block join. Uses the portable md5-based 60-bit token hash
    so the signature — and therefore the pair set — is reproducible by
    the DuckDB oracle; the default xxhash64 path stays available for
    production (one JVM hash call vs md5+conv per token)."""
    d = _spread(load_tables(spark, sf_dir, ["documents"])["documents"])
    sims = D.simhash(
        d.select("doc_id", "text"), "doc_id", "text",
        bits=_SIMHASH_BITS, token_hash=D.md5_hash60,
    )
    return D.hamming_pairs(sims, "doc_id", max_distance=3)


@register(
    "dedup_cluster_assign",
    bench=True,
    tags=("dedup", "text", "graph"),
    oracle="""
    WITH RECURSIVE toks AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
        FROM documents
    ), sh AS (
        SELECT doc_id,
               list_distinct([array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)]) AS shingles
        FROM toks WHERE len(t) >= 3
    ), sizes AS (
        SELECT doc_id, len(shingles) AS sz FROM sh
    ), ex AS (
        SELECT doc_id, unnest(shingles) AS s FROM sh
    ), inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ), pairs AS (
        SELECT id_a, id_b
        FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.2
    ), sym AS (
        SELECT id_a AS u, id_b AS v FROM pairs UNION SELECT id_b, id_a FROM pairs
    ), reach(u, v) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.u, s.v FROM reach r JOIN sym s ON s.u = r.v
    )
    SELECT u AS doc_id, CAST(min(v) AS BIGINT) AS component FROM reach GROUP BY u
    """,
)
def dedup_cluster_assign(spark, sf_dir):
    """Transitive near-dup clustering: exact-Jaccard pairs (>= 0.2) become
    an undirected graph; every document gets the min doc_id reachable as
    its cluster (component) id, singletons included. Engine side runs
    hash-min label propagation (operators/cluster.py) — one edge-shuffle
    per round, converging in ~diameter rounds; the oracle computes the
    same closure with a recursive CTE, so the iterative DataFrame
    algorithm is value-checked end-to-end, not just smoke-run."""
    from lakehouse_tacklebox_spark.operators.cluster import connected_components

    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    sh = D.shingle_hashes(_spread(d).select("doc_id", "text"), "text", n=3)
    pairs = D.jaccard_pairs(sh, "doc_id", "shingles", threshold=0.2, max_doc_freq=500, hashed=True)
    return connected_components(
        pairs.select("id_a", "id_b"), vertices=d.select("doc_id"), id_col="doc_id"
    )


@register(
    "sample_stratified",
    tags=("corpus", "sampling"),
    oracle="""
    WITH rated AS (
        SELECT doc_id, lang,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS bucket,
               CASE lang WHEN 'en' THEN 20 WHEN 'de' THEN 50 WHEN 'fr' THEN 35
                         WHEN 'es' THEN 50 WHEN 'zh' THEN 80 ELSE 0 END AS rate
        FROM documents
    )
    SELECT doc_id, lang FROM rated WHERE bucket < rate
    """,
)
def sample_stratified(spark, sf_dir):
    """Deterministic per-language stratified sampling (e.g. downsample
    dominant languages when balancing a training corpus). Membership is a
    pure function of doc_id — md5 bucket < stratum rate — so the sample
    is identical across reruns, partitionings, and engines; the oracle
    recomputes the same buckets and must select the same rows."""
    from lakehouse_tacklebox_spark.operators import corpus as C

    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    rates = {"en": 20, "de": 50, "fr": 35, "es": 50, "zh": 80}
    return C.stratified_sample(d, "lang", rates, "doc_id").select("doc_id", "lang")


@register(
    "corpus_shard_pack",
    tags=("corpus", "sharding"),
    oracle="""
    WITH t AS (
        SELECT doc_id, lang,
               len(string_split_regex(lower(trim(text)), '\\s+')) AS n_tokens
        FROM documents
    ), c AS (
        SELECT lang, n_tokens,
               sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) AS cum
        FROM t
    )
    SELECT lang, CAST(floor((cum - n_tokens) / 2000.0) AS BIGINT) AS shard_id,
           count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM c GROUP BY lang, shard_id
    """,
)
def corpus_shard_pack(spark, sf_dir):
    """Token-budget shard packing: within each language, documents are
    laid out in deterministic doc_id order and cut into ~2000-token
    shards (floor of the running token count before the row / budget) —
    the distributed approximation of bin packing used to build
    fixed-size training shards. One window shuffle per language; the
    oracle replays the same cumulative cut and must produce identical
    (lang, shard_id, n_docs, total_tokens) rows."""
    from lakehouse_tacklebox_spark.operators import corpus as C

    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    toks = d.select(
        "doc_id",
        "lang",
        F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("n_tokens"),
    )
    packed = C.pack_shards(toks, "lang", "doc_id", "n_tokens", budget=2000)
    return packed.groupBy("lang", "shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )


@register(
    "text_pii_scrub",
    tags=("corpus", "pii"),
    oracle="""
    WITH contacts AS (
        SELECT c_mktsegment,
               c_name || ' reachable at ' || printf('%02d-%03d-%03d-%04d',
                   10 + c_nationkey % 90,
                   c_custkey % 1000,
                   (c_custkey * 7) % 1000,
                   abs(CAST(round(c_acctbal * 100) AS BIGINT)) % 10000) AS contact
        FROM customer
    ), scrubbed AS (
        SELECT c_mktsegment,
               len(regexp_extract_all(contact, '\\b\\d{2,3}-\\d{3}-\\d{3,4}-\\d{4}\\b')) AS n_phone,
               regexp_replace(contact, '\\b\\d{2,3}-\\d{3}-\\d{3,4}-\\d{4}\\b', '[PHONE]', 'g') AS clean
        FROM contacts
    )
    SELECT c_mktsegment,
           count(*) AS n_rows,
           CAST(sum(n_phone) AS BIGINT) AS n_phone_hits,
           CAST(sum(len(clean)) AS BIGINT) AS scrubbed_chars
    FROM scrubbed GROUP BY c_mktsegment
    """,
)
def text_pii_scrub(spark, sf_dir):
    """PII redaction before corpus release: phone-shaped substrings are
    counted and replaced with [PHONE] in a composed contact string (the
    testdata has no real PII column, so a deterministic phone-shaped
    string is synthesized from the customer keys on BOTH sides).
    regexp_count/regexp_replace stay JVM-side — redaction at 100 TB must
    never drop into per-row Python. The oracle re-scrubs with the same
    regex and checks hit counts AND the total length of the scrubbed
    text, so the replacement itself is value-checked."""
    from lakehouse_tacklebox_spark.operators import corpus as C

    c = load_tables(spark, sf_dir, ["customer"])["customer"]
    phone = F.format_string(
        "%02d-%03d-%03d-%04d",
        (F.lit(10) + F.col("c_nationkey") % 90).cast("int"),
        (F.col("c_custkey") % 1000).cast("int"),
        ((F.col("c_custkey") * 7) % 1000).cast("int"),
        (F.abs(F.round(F.col("c_acctbal") * 100).cast("bigint")) % 10000).cast("int"),
    )
    contacts = c.select(
        "c_mktsegment",
        F.concat_ws(" reachable at ", F.col("c_name"), phone).alias("contact"),
    )
    scrubbed = C.scrub_pii(
        contacts, "contact", patterns={"phone": r"\b\d{2,3}-\d{3}-\d{3,4}-\d{4}\b"}
    )
    return scrubbed.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_phone").cast("long").alias("n_phone_hits"),
        F.sum(F.length("contact_scrubbed")).cast("long").alias("scrubbed_chars"),
    )


@register(
    "text_decontaminate",
    bench=True,
    tags=("corpus", "dedup", "decontamination"),
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\\s+') AS t
        FROM documents
    ), sh AS (
        SELECT doc_id,
               list_distinct([array_to_string(t[i:i+4], ' ') for i in range(1, len(t) - 3)]) AS shingles
        FROM toks WHERE len(t) >= 5
    ), ev AS (
        SELECT DISTINCT unnest(shingles) AS s FROM sh WHERE doc_id % 20 = 0
    ), hits AS (
        SELECT DISTINCT sh.doc_id
        FROM sh, unnest(sh.shingles) AS u(s)
        WHERE sh.doc_id % 20 != 0 AND u.s IN (SELECT s FROM ev)
    )
    SELECT d.lang,
           count(*) AS n_train,
           CAST(sum(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_contaminated
    FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
    WHERE d.doc_id % 20 != 0
    GROUP BY d.lang
    """,
)
def text_decontaminate(spark, sf_dir):
    """Benchmark decontamination (per-language contamination report): the
    held-out eval set (here: every 20th doc_id) is collapsed to its
    distinct 5-gram set and BROADCAST; training documents sharing any
    5-gram are flagged. The corpus scan never shuffles — the plan is
    scan → explode → broadcast semi-join → distinct ids — which is the
    shape that survives a 100 TB training corpus with a fixed-size
    benchmark suite on the other side."""
    from lakehouse_tacklebox_spark.operators import corpus as C

    d = _spread(load_tables(spark, sf_dir, ["documents"])["documents"])
    train = d.filter(F.col("doc_id") % 20 != 0)
    ev = d.filter(F.col("doc_id") % 20 == 0)
    flagged = C.contamination_flags(train, ev, "doc_id", "text", n=5)
    return flagged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_train"),
        F.sum(F.col("contaminated").cast("bigint")).alias("n_contaminated"),
    )


@register(
    "corpus_vocab",
    bench=True,
    tags=("corpus", "vocab", "topk"),
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
        FROM documents
    ), stats AS (
        SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
        FROM toks WHERE token != '' GROUP BY token
    )
    SELECT token, tf, df FROM stats
    ORDER BY tf DESC, token LIMIT 25
    """,
)
def corpus_vocab(spark, sf_dir):
    """Vocabulary building (tokenizer/BPE training prep): corpus term
    frequency + document frequency per token in ONE shuffle (map-side
    partial agg on token), then a tie-broken top-k. The full vocab table
    is the real product; the top-25 keeps the gate result small and
    deterministic."""
    from lakehouse_tacklebox_spark.operators import corpus as C

    d = _spread(load_tables(spark, sf_dir, ["documents"])["documents"])
    vocab = C.vocabulary(d, "text", id_col="doc_id")
    return vocab.orderBy(F.col("tf").desc(), "token").limit(25)


@register(
    "text_repetition_filter",
    bench=True,
    tags=("corpus", "quality"),
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\\s+') AS t
        FROM documents
    ), grams AS (
        SELECT doc_id, lang, unnest([array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)]) AS gram
        FROM toks WHERE len(t) >= 3
    ), per AS (
        SELECT doc_id, lang, gram, count(*) AS c FROM grams GROUP BY ALL
    ), scored AS (
        SELECT doc_id, lang, CAST(sum(c) AS BIGINT) AS n_grams,
               CAST(max(c) AS BIGINT) AS top_c
        FROM per GROUP BY doc_id, lang
    )
    SELECT lang,
           count(*) AS docs,
           CAST(sum(CASE WHEN CAST(top_c AS DOUBLE) / n_grams > 0.02 THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive,
           CAST(sum(top_c) AS BIGINT) AS total_top,
           CAST(sum(n_grams) AS BIGINT) AS total_grams
    FROM scored GROUP BY lang
    """,
)
def text_repetition_filter(spark, sf_dir):
    """Gopher-style repetition gate: per language, how many documents are
    dominated by one repeated 3-gram (modal-trigram share > 2%), plus the
    exact integer numerator/denominator of the corpus-level repetition
    rate (integer sums — no cross-engine float-summation skew). Counting
    is explode → two hash aggs, one shuffle; never per-doc quadratic
    array ops."""
    from lakehouse_tacklebox_spark.operators import corpus as C

    d = _spread(load_tables(spark, sf_dir, ["documents"])["documents"])
    scored = C.repetition_scores(d, "doc_id", "text", n=3).filter(F.col("n_grams") > 0)
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum((F.col("rep_ratio") > 0.02).cast("bigint")).alias("n_repetitive"),
        F.sum("top_gram_count").cast("bigint").alias("total_top"),
        F.sum("n_grams").cast("bigint").alias("total_grams"),
    )


@register(
    "dedup_incremental",
    tags=("corpus", "dedup", "incremental"),
    oracle="""
    WITH fp AS (
        SELECT doc_id, lang, source,
               sha256(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS f
        FROM documents
    ), existing AS (
        SELECT DISTINCT f FROM fp WHERE doc_id % 3 != 0
    ), incoming AS (
        SELECT * FROM fp WHERE doc_id % 3 = 0
    )
    SELECT doc_id, lang, source FROM (
        SELECT i.*, row_number() OVER (PARTITION BY i.f ORDER BY i.doc_id) AS rn
        FROM incoming i LEFT JOIN existing e ON i.f = e.f
        WHERE e.f IS NULL
    ) WHERE rn = 1
    """,
)
def dedup_incremental(spark, sf_dir):
    """Incremental corpus ingest dedup: the incoming batch (every 3rd
    doc_id) is deduped against the already-ingested corpus by normalized
    content fingerprint, then within itself. Both joins move 32-byte
    digests, never document bodies — the flow that holds when the
    historical side is 100 TB and the increment is a day's crawl."""
    from lakehouse_tacklebox_spark.operators import corpus as C

    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    incoming = d.filter(F.col("doc_id") % 3 == 0)
    existing = d.filter(F.col("doc_id") % 3 != 0)
    return C.incremental_dedup(incoming, existing, "text", "doc_id").select(
        "doc_id", "lang", "source"
    )


@register(
    "corpus_pipeline",
    bench=True,
    tags=("corpus", "pipeline"),
    oracle="""
    WITH base AS (
        SELECT doc_id, lang, text,
               len(string_split_regex(lower(trim(text)), '\\s+')) AS n_tokens
        FROM documents
    ), quality AS (
        SELECT * FROM base WHERE n_tokens >= 5
    ), dd AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (
                PARTITION BY sha256(lower(regexp_replace(text, '\\s+', ' ', 'g')))
                ORDER BY doc_id) AS rn
            FROM quality
        ) WHERE rn = 1
    ), train AS (
        SELECT * FROM dd WHERE doc_id % 20 != 0
    ), ev_toks AS (
        SELECT string_split_regex(lower(trim(text)), '\\s+') AS t
        FROM documents WHERE doc_id % 20 = 0
    ), evsh AS (
        SELECT DISTINCT unnest([array_to_string(t[i:i+4], ' ') for i in range(1, len(t) - 3)]) AS s
        FROM ev_toks WHERE len(t) >= 5
    ), tr_sh AS (
        SELECT doc_id,
               list_distinct([array_to_string(u.t[i:i+4], ' ') for i in range(1, len(u.t) - 3)]) AS shingles
        FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM train) u
        WHERE len(u.t) >= 5
    ), hits AS (
        SELECT DISTINCT tr_sh.doc_id
        FROM tr_sh, unnest(tr_sh.shingles) AS un(s)
        WHERE un.s IN (SELECT s FROM evsh)
    ), clean AS (
        SELECT t.doc_id, t.lang, t.n_tokens
        FROM train t LEFT JOIN hits h ON t.doc_id = h.doc_id
        WHERE h.doc_id IS NULL
    ), cuts AS (
        SELECT lang, n_tokens,
               sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) AS cum
        FROM clean
    )
    SELECT lang,
           CAST(floor((cum - n_tokens) / 2000.0) AS BIGINT) AS shard_id,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM cuts GROUP BY lang, shard_id
    """,
)
def corpus_pipeline(spark, sf_dir):
    """Flagship end-to-end training-corpus build — quality gate → exact
    dedup → benchmark decontamination → token-budget shard packing — as
    ONE declarative DataFrame program, value-checked stage-for-stage by a
    DuckDB CTE oracle.

    The composition preserves each stage's scale shape: the quality gate
    is a map-side filter, dedup shuffles 32-byte digests, decontamination
    is a broadcast semi-join probe, and packing is one window shuffle per
    language — so the whole pipeline is (filter → 1 digest shuffle →
    broadcast probe → 1 window shuffle) over a corpus scanned once."""
    from lakehouse_tacklebox_spark.operators import corpus as C

    d = _spread(load_tables(spark, sf_dir, ["documents"])["documents"])
    tokens = F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
    quality = d.withColumn("n_tokens", tokens).filter(F.col("n_tokens") >= 5)
    deduped = D.dedup_exact(
        D.fingerprint_sha2(quality, "text"), cols=["fingerprint"], tiebreaker="doc_id"
    )
    train = deduped.filter(F.col("doc_id") % 20 != 0)
    ev = d.filter(F.col("doc_id") % 20 == 0)
    # probe the PRE-dedup corpus for contamination hits: the dedup window
    # then appears once in the plan instead of once per consumer branch
    # (survivor texts are a subset of quality texts, so flags agree).
    probe = quality.filter(F.col("doc_id") % 20 != 0)
    clean = (
        C.contamination_flags(train, ev, "doc_id", "text", n=5, probe=probe)
        .filter(~F.col("contaminated"))
        .select("doc_id", "lang", "n_tokens")
    )
    packed = C.pack_shards(clean, "lang", "doc_id", "n_tokens", budget=2000)
    return packed.groupBy("lang", "shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
    )


@register(
    "text_html_strip",
    bench=True,
    tags=("corpus", "cleaning"),
    oracle="""
    WITH wrapped AS (
        SELECT doc_id, lang,
               '<html><body><p id="d' || CAST(doc_id AS VARCHAR) || '">' || text
               || '</p><br/>&amp;footer</body></html>' AS html
        FROM documents
    ), stripped AS (
        SELECT doc_id, lang,
               trim(regexp_replace(regexp_replace(regexp_replace(html,
                    '<[^>]*>', ' ', 'g'),
                    '&amp;', '&', 'g'),
                    '\\s+', ' ', 'g')) AS clean
        FROM wrapped
    )
    SELECT lang,
           count(*) AS docs,
           CAST(sum(length(clean)) AS BIGINT) AS clean_chars,
           CAST(sum(CASE WHEN clean LIKE '%&footer' THEN 1 ELSE 0 END) AS BIGINT) AS n_footer
    FROM stripped GROUP BY lang
    """,
)
def text_html_strip(spark, sf_dir):
    """HTML→text cleaning (reference: 02-Data-preparation.py wraps
    BeautifulSoup in a pandas_udf — the Spark-first form is regex tag
    stripping + entity decoding, fully JVM-side, with the UDF reserved
    for documents that genuinely need a parser). The fixture wraps each
    document in deterministic markup on BOTH sides, so the stripped
    length and entity decoding are value-checked."""
    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    html = F.concat(
        F.lit('<html><body><p id="d'),
        F.col("doc_id").cast("string"),
        F.lit('">'),
        F.col("text"),
        F.lit("</p><br/>&amp;footer</body></html>"),
    )
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.regexp_replace(html, r"<[^>]*>", " "), "&amp;", "&"),
            r"\s+",
            " ",
        )
    )
    return (
        d.select("lang", clean.alias("clean"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum(F.length("clean")).cast("bigint").alias("clean_chars"),
            F.sum(F.col("clean").endswith("&footer").cast("bigint")).alias("n_footer"),
        )
    )


@register(
    "corpus_tfidf_top",
    tags=("corpus", "tfidf", "topk"),
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
        FROM documents
    ), tf AS (
        SELECT doc_id, token, count(*) AS tf
        FROM toks WHERE token != '' GROUP BY doc_id, token
    ), df AS (
        SELECT token, count(DISTINCT doc_id) AS df FROM tf GROUP BY token
    ), n AS (
        SELECT count(*) AS n_docs FROM documents
    ), scored AS (
        SELECT tf.doc_id, tf.token,
               CAST(tf.tf * n.n_docs AS DOUBLE) / df.df AS score
        FROM tf JOIN df USING (token) CROSS JOIN n
    )
    SELECT doc_id, token, round(score, 4) AS score
    FROM (
        SELECT doc_id, token, score,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, token) AS rn
        FROM scored
    ) WHERE rn = 1 AND doc_id < 100
    """,
)
def corpus_tfidf_top(spark, sf_dir):
    """Per-document keyword extraction: the most distinctive token by
    rarity-weighted frequency, score = tf × N / df. Deliberately NOT
    ln-based tf-idf: IEEE multiply/divide of integers is correctly
    rounded and therefore bit-identical across engines, while libm
    transcendentals (ln) are not — and the ranking is monotone-identical
    for fixed tf. Two hash aggregations + a token-keyed join; the doc_id
    < 100 cut keeps the gate result bounded (the full per-doc keyword
    table is the real product)."""
    from lakehouse_tacklebox_spark.operators import corpus as C

    d = _spread(load_tables(spark, sf_dir, ["documents"])["documents"])
    n_docs = d.count()
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("token"),
    ).filter(F.col("token") != "")
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    scored = tf.join(df_, "token").select(
        "doc_id",
        "token",
        ((F.col("tf") * F.lit(n_docs)).cast("double") / F.col("df")).alias("score"),
    )
    w = W.partitionBy("doc_id").orderBy(F.col("score").desc(), "token")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("doc_id") < 100))
        .select("doc_id", "token", F.round("score", 4).alias("score"))
    )


@register(
    "text_nearest_neighbor",
    tags=("dedup", "text", "similarity", "topk"),
    bench=True,
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
        FROM documents
    ), sh AS (
        SELECT doc_id,
               list_distinct([array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)]) AS shingles
        FROM toks WHERE len(t) >= 3
    ), sizes AS (
        SELECT doc_id, len(shingles) AS sz FROM sh
    ), ex AS (
        SELECT doc_id, unnest(shingles) AS s FROM sh
    ), inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ), scored AS (
        SELECT id_a, id_b,
               CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS j
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
    ), sym AS (
        SELECT id_a AS doc_id, id_b AS neighbor_id, j FROM scored
        UNION ALL
        SELECT id_b AS doc_id, id_a AS neighbor_id, j FROM scored
    ), ranked AS (
        SELECT doc_id, neighbor_id, j,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY j DESC, neighbor_id) AS rn
        FROM sym
    )
    SELECT doc_id, neighbor_id, round(j, 4) AS jaccard
    FROM ranked WHERE rn = 1
    ORDER BY doc_id
    """,
)
def text_nearest_neighbor(spark, sf_dir):
    """Each document's single most similar other document by exact
    3-gram Jaccard — the top-1 similarity JOIN ("find the near-copy of
    this doc") built from the same postings machinery as
    dedup_ngram_jaccard: candidates are only pairs sharing ≥1 hashed
    shingle (never a cross join), scored exactly, symmetrized (a pair
    serves as candidate for BOTH endpoints), then row_number()=1 per
    doc with a total (jaccard DESC, neighbor ASC) tie-break — Spark
    executes the top-1 as WindowGroupLimit, partial map-side. Docs
    sharing no shingle with any other doc have no neighbor and are
    absent, matching the oracle.

    The ordering key is the RAW jaccard double — identical in both
    engines because it is the same division of the same three integers
    — and rounding to 4dp happens only in the projection.

    Scale: everything up to the top-1 is the capped postings-join
    pipeline (see jaccard_pairs' max_doc_freq contract); the
    symmetrize is a union of two projections of the same scored frame,
    and the window never materializes more than each doc's candidate
    list.
    """
    d = _spread(load_tables(spark, sf_dir, ["documents"])["documents"])
    sh = D.shingle_hashes(d.select("doc_id", "text"), "text", n=3)
    pairs = D.jaccard_pairs(
        sh, "doc_id", "shingles", threshold=0.0, max_doc_freq=500, hashed=True
    )
    sym = pairs.select(
        F.col("id_a").alias("doc_id"),
        F.col("id_b").alias("neighbor_id"),
        F.col("jaccard").alias("j"),
    ).unionByName(
        pairs.select(
            F.col("id_b").alias("doc_id"),
            F.col("id_a").alias("neighbor_id"),
            F.col("jaccard").alias("j"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("j").desc(), "neighbor_id")
    return (
        sym.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "neighbor_id", F.round("j", 4).alias("jaccard"))
        .orderBy("doc_id")
    )


@register(
    "text_duplicate_spans",
    bench=True,
    tags=("text", "dedup", "corpus"),
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
        FROM documents
    ), wins AS (
        SELECT doc_id,
               ('0x' || substr(md5(array_to_string(
                   t[(CAST(u.i AS INT)+1):(CAST(u.i AS INT)+8)], ' ')), 1, 15)
               )::BIGINT AS h
        FROM toks, unnest(range(0, len(t) - 7)) AS u(i)
        WHERE len(t) >= 8
    ), census AS (
        SELECT h, count(DISTINCT doc_id) AS n_docs
        FROM wins GROUP BY h
    )
    SELECT w.doc_id,
           CAST(count(*) AS BIGINT) AS n_windows,
           CAST(sum(CASE WHEN c.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS dup_windows,
           CAST(floor(sum(CASE WHEN c.n_docs >= 2 THEN 1 ELSE 0 END)
                      * 1000000.0 / count(*)) AS BIGINT) AS dup_ppm
    FROM wins w JOIN census c USING (h)
    GROUP BY w.doc_id
    HAVING sum(CASE WHEN c.n_docs >= 2 THEN 1 ELSE 0 END) > 0
    ORDER BY doc_id
    """,
)
def text_duplicate_spans(spark, sf_dir):
    """Duplicated-span census (the Lee et al. "Deduplicating Training
    Data" ExactSubstr idea, at 8-token granularity instead of suffix
    arrays): every 8-token window is hashed, a corpus-wide census counts
    how many DISTINCT docs each window appears in, and each doc reports
    what fraction of its window positions is cross-document duplicated
    (``dup_ppm``). Positional, so a doc that copies one viral paragraph
    ten times scores all ten spans; within-doc self-repetition does NOT
    count (that's text_repetition_filter's axis — here n_docs >= 2).
    Downstream: docs above a dup_ppm threshold get span-stripped or
    dropped before training; the per-position flags are exactly the
    strip mask.

    Scale: tokenize once, explode n_tokens-7 windows per doc (linear,
    same constant as text_ngram_novelty's census), one shuffle on the
    window hash for the census, one shuffle back on doc_id for the
    rollup. No joins back to text; the window content exists only
    inside the md5 projection. At 100 TB the census frame is the
    deduplicated shingle space — the same cardinality MinHash banding
    already materializes — and the ≥2-docs filter makes the join side
    sparse.
    """
    d = load_tables(spark, sf_dir, ["documents"])["documents"]

    toks = F.split(F.lower(F.trim("text")), r"\s+")
    wins = (
        _spread(d.select("doc_id", toks.alias("t")).filter(F.size("t") >= 8))
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.size("t") - 8)).alias("i"),
            F.col("t"),
        )
        .select(
            "doc_id",
            D.md5_hash60(F.expr("concat_ws(' ', slice(t, CAST(i AS INT)+1, 8))")).alias("h"),
        )
    )
    census = (
        wins.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .select("h")
    )
    dup_flag = F.when(F.col("n_docs_matched").isNotNull(), 1).otherwise(0)
    flagged = wins.join(
        census.withColumn("n_docs_matched", F.lit(1)), "h", "left"
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_windows"),
            F.sum(dup_flag).cast("bigint").alias("dup_windows"),
        )
        .filter(F.col("dup_windows") > 0)
        .select(
            "doc_id",
            "n_windows",
            "dup_windows",
            ppm("dup_windows", "n_windows").alias("dup_ppm"),
        )
        .orderBy("doc_id")
    )


@register(
    "agg_heavy_hitters_mg",
    tags=("agg", "sketch", "text", "heavy-hitters"),
    bench=True,
    # The oracle is the EXACT answer: every token whose count exceeds
    # N/(capacity+1), with exact counts. The Spark side reaches the
    # same set through the Misra-Gries candidate pipeline, so the
    # compare certifies the sketch's no-false-negative guarantee (a
    # dropped qualifying key would vanish from the Spark result) AND
    # the exact re-count, not an estimate.
    oracle="""
    WITH toks AS (
        SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
        FROM documents
    ), tot AS (SELECT count(*) AS n FROM toks)
    SELECT w, CAST(count(*) AS BIGINT) AS n
    FROM toks, tot
    GROUP BY w, tot.n
    HAVING count(*) * 31 > tot.n
    ORDER BY n DESC, w
    """,
)
def agg_heavy_hitters_mg(spark, sf_dir):
    """Dominant-token census via distributed Misra-Gries (capacity 30)
    + exact candidate re-count — the bounded-memory path to "which
    values dominate this column" that never runs a full GROUP BY over
    the key space (see operators/sketch.py for the guarantee and the
    100 TB shuffle story). The gate corpus is chosen so the threshold
    N/31 genuinely splits the vocabulary (25 of 31 tokens qualify at
    sf0.001, ~6 miss), so a sketch that lost a qualifying key or an
    off-by-one in the integer threshold flips the compare.
    """
    from lakehouse_tacklebox_spark.operators.sketch import heavy_hitters_exact

    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    toks = _spread(d.select("doc_id", "text")).select(
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("w")
    )
    return heavy_hitters_exact(toks, "w", capacity=30)


@register(
    "text_bigram_commonness",
    tags=("text", "quality", "lm"),
    bench=True,
    oracle="""
    WITH t AS (
        SELECT doc_id, source, string_split_regex(lower(trim(text)), '\\s+') AS w
        FROM documents
    ),
    b AS (
        SELECT doc_id, source,
               unnest(list_transform(range(2, len(w) + 1), i -> w[i-1] || ' ' || w[i])) AS bg
        FROM t WHERE len(w) >= 2
    ),
    g AS (SELECT bg, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY bg)
    SELECT source,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(cnt) AS BIGINT) AS sum_freq,
           (CAST(sum(cnt) AS BIGINT) * 1000000) // CAST(count(*) AS BIGINT) AS commonness_ppm
    FROM b JOIN g USING (bg)
    GROUP BY source ORDER BY source
    """,
)
def text_bigram_commonness(spark, sf_dir):
    """Corpus-LM commonness score per source: train a word-bigram census
    over the whole corpus, then score each source by the average global
    frequency of its bigram instances — the integer-exact core of
    CCNet-style LM filtering (Wenzek et al., LREC'20: rank docs by how
    typical their n-grams are; atypical = noise or boilerplate-free
    gold, either way triage-worthy). commonness_ppm = ⌊Σ freq(bg) ·
    1e6 / n_instances⌋, all-bigint, so the two engines agree exactly —
    no log-prob doubles whose summation order would break parity.

    Plan at 100 TB: explode → one partial-agg census shuffle on the
    bigram key, then the instances-to-census join — no forced hint, so
    AQE broadcasts the census while it fits (it does at gate scale) and
    falls back to a shuffle join when the vocabulary outgrows the
    threshold — and a tiny per-source final agg. The explode
    is recomputed for the instance side rather than persisted: a
    codegen'd re-scan is cheaper than caching a corpus-sized exploded
    frame in executor storage."""
    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    toks = F.split(F.lower(F.trim("text")), r"\s+")
    docs = _spread(d.select("doc_id", "source", toks.alias("w")).filter(F.size("w") >= 2))
    bg = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.expr("transform(sequence(2, size(w)), i -> concat_ws(' ', w[i-2], w[i-1]))")
        ).alias("bg"),
    )
    g = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        bg.join(g, "bg")
        .groupBy("source")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum("cnt").cast("bigint").alias("sum_freq"),
        )
        .withColumn(
            "commonness_ppm",
            F.expr("CAST((sum_freq * CAST(1000000 AS BIGINT)) div n_bigrams AS BIGINT)"),
        )
        .orderBy("source")
    )


@register(
    "dedup_containment",
    tags=("dedup", "text", "containment"),
    # Discrimination is the point: on this augmented corpus 438 directed
    # pairs clear containment ≥ 0.9 but only 78 of them clear symmetric
    # Jaccard ≥ 0.9 — the other 360 (including every one of the 331
    # chunk→parent subset-duplicates) are exactly what resemblance-based
    # dedup ships to training. The oracle rebuilds the same augmented
    # corpus and the same exact integer ppm arithmetic.
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
        FROM documents
    ),
    aug AS (
        SELECT doc_id, w FROM t
        UNION ALL
        SELECT doc_id + 10000, w[1:25] FROM t WHERE len(w) >= 40
    ),
    sh AS (
        SELECT DISTINCT doc_id, g FROM (
            SELECT doc_id,
                   unnest(list_transform(range(3, len(w) + 1),
                                         i -> w[i-2] || ' ' || w[i-1] || ' ' || w[i])) AS g
            FROM aug WHERE len(w) >= 3) x
    ),
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY 1),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS inter
        FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id <> b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b, inter, sa.sz AS sz_a,
           inter * 1000000 // sa.sz AS containment_ppm
    FROM inter JOIN sizes sa ON sa.doc_id = id_a
    WHERE inter * 1000000 // sa.sz >= 900000
    ORDER BY id_a, id_b
    """,
)
def dedup_containment(spark, sf_dir):
    """Subset-duplicate detection via directed shingle CONTAINMENT on an
    augmented corpus (every ≥40-token document plus its own 25-token
    prefix chunk at doc_id+10000 — the quoted-article/RAG-chunk shape):
    |A∩B|/|A| ≥ 0.9 recovers all 331 chunk→parent embeddings that
    symmetric Jaccard structurally cannot see (chunk-vs-parent Jaccard
    ≈ chunk/parent size ratio ≈ 0.3). Same capped postings-join plan as
    the Jaccard operator — one gram census, one hash-keyed quadratic
    join bounded by the doc-frequency cap, integer-ppm scoring."""
    from lakehouse_tacklebox_spark.operators.dedup import containment_pairs

    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    toks = F.split(F.lower(F.trim("text")), r"\s+")
    base = _spread(d.select("doc_id", toks.alias("w")))
    chunks = base.filter(F.size("w") >= 40).select(
        (F.col("doc_id") + 10000).alias("doc_id"), F.slice("w", 1, 25).alias("w")
    )
    aug = base.unionByName(chunks)
    grams = F.expr(
        "CASE WHEN size(w) >= 3 THEN transform(sequence(3, size(w)), "
        "i -> concat_ws(' ', w[i-3], w[i-2], w[i-1])) "
        "ELSE CAST(array() AS array<string>) END"
    )
    shingled = aug.select("doc_id", grams.alias("grams"))
    return containment_pairs(
        shingled, "doc_id", "grams", threshold_ppm=900000, max_doc_freq=500
    ).orderBy("id_a", "id_b")


_BPE_TRAIN_N = 20


_BPE_BYTES_V0 = """
  SELECT concat(' ', trim(regexp_replace(hex(encode(w)), '(..)', '\\1  ', 'g')), ' ') AS sym,
         CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w
        FROM documents)
  WHERE w <> '' AND octet_length(encode(w)) >= 2
  GROUP BY 1
"""


def _bpe_train_oracle(n_merges: int = _BPE_TRAIN_N, v0_sql: str | None = None) -> str:
    """Unrolled n-stage BPE-training SQL for DuckDB: v0 is the weighted
    [a-z]{2,} vocab in the double-space symbol encoding (or the caller's
    ``v0_sql`` — text_bpe_bytes trains over UTF-8 hex-byte symbols with
    the same program); each stage k
    takes the argmax adjacent pair of v_{k-1} (count desc, pair asc) and
    applies it via replace() with scalar subqueries. MATERIALIZED is
    load-bearing: v_k and m_k are each referenced more than once, and
    inlining would re-expand v0 exponentially (2^n)."""
    pair_census = (
        "SELECT s[i] AS a, s[i+1] AS b, CAST(sum(cnt) AS BIGINT) AS n FROM ("
        "SELECT string_split(trim(sym), '  ') AS s, cnt FROM {v}"
        "), unnest(range(1, len(s))) AS t(i) GROUP BY 1, 2 "
        "ORDER BY n DESC, a, b LIMIT 1"
    )
    default_v0 = (
        "  SELECT concat(' ', trim(regexp_replace(w, '(.)', '\\1  ', 'g')), ' ') AS sym,\n"
        "         CAST(count(*) AS BIGINT) AS cnt\n"
        "  FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w\n"
        "        FROM documents)\n"
        "  WHERE regexp_matches(w, '^[a-z]+$') AND length(w) >= 2\n"
        "  GROUP BY 1"
    )
    parts = [
        "WITH v0 AS MATERIALIZED (",
        v0_sql if v0_sql is not None else default_v0,
        ")",
    ]
    for k in range(1, n_merges + 1):
        parts.append(
            f", m{k} AS MATERIALIZED ({pair_census.format(v=f'v{k - 1}')})"
        )
        if k < n_merges:
            parts.append(
                f", v{k} AS MATERIALIZED (SELECT replace(sym,"
                f" (SELECT ' ' || a || '  ' || b || ' ' FROM m{k}),"
                f" (SELECT ' ' || a || b || ' ' FROM m{k})) AS sym, cnt FROM v{k - 1})"
            )
    selects = [
        f"SELECT {k} AS rank, a AS pair_a, b AS pair_b,"
        f" a || b AS merged, n AS pair_count FROM m{k}"
        for k in range(1, n_merges + 1)
    ]
    parts.append(" UNION ALL ".join(selects))
    parts.append("ORDER BY rank")
    return "\n".join(parts)


# BPE merge table (rank order) — text_bpe_train's output on the sf0.01
# gate corpus, the way a production tokenizer pins its trained vocab:
# train once on a dev corpus, apply everywhere. Derived at import time
# from the CURRENT gate corpus via `_bpe_train_oracle()` (DuckDB, <1 s),
# so a driver testdata regeneration retrains the table automatically and
# the tokenize entry + its oracle (both built from _BPE_MERGES below)
# stay exact without a manual re-pin (VERDICT r9 item 6). The literal is
# the FALLBACK for environments without the gate corpus or DuckDB — any
# valid merge table is a valid tokenizer, so the fallback only loses the
# "trained on this corpus" provenance, never correctness.
#
# Encoding that makes a replace() chain EXACT greedy BPE: symbols are
# joined by TWO spaces and the word is wrapped in one space each side
# (' t  e  s  t ' ); each merge pattern is single-space-padded
# (' t  h ' -> ' th '). A match consumes one space from each boundary's
# pair and the replacement restores them, so an adjacent occurrence
# still sees its own leading space — the single-space scheme loses that
# space to the previous match and silently skips every second
# occurrence in runs like 'ththth'. Certified against a pure-Python
# greedy-BPE reference on 5k adversarial words (tests/test_bpe.py);
# replace() is left-to-right non-overlapping in Python, Spark, and
# DuckDB alike.
_BPE_MERGES_FALLBACK = [
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"),
    ("s", "t"), ("m", "er"), ("a", "t"), ("l", "u"),
    ("a", "r"), ("p", "ar"), ("j", "o"), ("jo", "in"),
    ("a", "s"), ("as", "h"), ("h", "ash"), ("r", "ow"),
    ("at", "c"), ("atc", "h"), ("b", "atch"), ("a", "n"),
]

_BPE_GATE_CORPUS = "/root/testdata/sf0.01/documents.parquet"


def _derive_bpe_merges() -> list[tuple[str, str]] | None:
    """Retrain the merge table on the current gate corpus (DuckDB replay
    of the exact text_bpe_train program; certified equal to a pure-Python
    trainer in tests/test_bpe.py). Returns None when the corpus or DuckDB
    is unavailable — callers fall back to the pinned literal."""
    import os

    if not os.path.exists(_BPE_GATE_CORPUS):
        return None
    try:
        import duckdb

        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM"
            f" read_parquet('{_BPE_GATE_CORPUS}')"
        )
        rows = con.execute(_bpe_train_oracle()).fetchall()
        con.close()
        return [(r[1], r[2]) for r in rows] or None
    except Exception:
        return None


_BPE_MERGES = _derive_bpe_merges() or _BPE_MERGES_FALLBACK


# Byte-level BPE merge table (GPT-2-style UTF-8 byte fallback): trained
# by the SAME unrolled-CTE program as _BPE_MERGES but over hex-byte
# symbols of EVERY whitespace token (no [a-z] filter — the base alphabet
# is all 256 bytes, so nothing is ever out-of-vocabulary). Derived at
# import from the current gate corpus like _BPE_MERGES; the literal is
# the environment-missing fallback (its provenance: this trainer's
# output on the 2026-08 sf0.01 corpus).
_BPE_BYTES_MERGES_FALLBACK = [
    ("65", "72"), ("69", "6E"), ("6F", "77"), ("6F", "72"),
    ("73", "74"), ("6D", "6572"), ("61", "74"), ("6C", "75"),
    ("61", "72"), ("70", "6172"), ("6A", "6F"), ("6A6F", "696E"),
    ("61", "73"), ("6173", "68"), ("68", "617368"), ("72", "6F77"),
    ("6174", "63"), ("617463", "68"), ("62", "61746368"), ("61", "6E"),
]


def _derive_bpe_bytes_merges() -> list[tuple[str, str]] | None:
    """Byte-level twin of _derive_bpe_merges: retrain the hex-byte merge
    table on the current gate corpus via the unrolled-CTE DuckDB trainer
    (certified equal to a pure-Python byte-BPE trainer in
    tests/test_bpe_bytes.py)."""
    import os

    if not os.path.exists(_BPE_GATE_CORPUS):
        return None
    try:
        import duckdb

        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM"
            f" read_parquet('{_BPE_GATE_CORPUS}')"
        )
        rows = con.execute(_bpe_train_oracle(v0_sql=_BPE_BYTES_V0)).fetchall()
        con.close()
        return [(r[1], r[2]) for r in rows] or None
    except Exception:
        return None


_BPE_BYTES_MERGES = _derive_bpe_bytes_merges() or _BPE_BYTES_MERGES_FALLBACK


def _bpe_expr_sql(col: str, merges=None) -> str:
    """Nested replace() chain applying the merge table in rank order —
    the same SQL text is valid in Spark and DuckDB. `col` must already
    be in the double-space symbol encoding (see _BPE_MERGES note)."""
    expr = col
    for a, b in merges if merges is not None else _BPE_MERGES:
        expr = f"replace({expr}, ' {a}  {b} ', ' {a}{b} ')"
    return expr


_BPE_SYM_DUCK = "concat(' ', trim(regexp_replace(w, '(.)', '\\1  ', 'g')), ' ')"
_BPE_WORDS_DUCK = "string_split_regex(lower(trim(text)), '\\s+')"
_BPE_ORACLE = f"""
    WITH words AS (
        SELECT source, unnest({_BPE_WORDS_DUCK}) AS w
        FROM documents
    ), lw AS (
        SELECT source, w FROM words WHERE regexp_matches(w, '^[a-z]+$')
    ), b AS (
        SELECT source, w,
               {_bpe_expr_sql(_BPE_SYM_DUCK)} AS bpe
        FROM lw
    ), t AS (
        SELECT source, w, bpe, len(string_split(trim(bpe), '  ')) AS n_tok FROM b
    ), sy AS (
        SELECT source, CAST(count(DISTINCT s) AS BIGINT) AS n_symbol_types
        FROM (SELECT source, unnest(string_split(trim(bpe), '  ')) AS s FROM b)
        GROUP BY source
    )
    SELECT t.source,
           CAST(count(*) AS BIGINT)       AS n_words,
           CAST(sum(length(w)) AS BIGINT) AS n_chars,
           CAST(sum(n_tok) AS BIGINT)     AS n_tokens,
           CAST((sum(n_tok) * CAST(1000000 AS BIGINT)) // count(*) AS BIGINT)
               AS tokens_per_word_ppm,
           sy.n_symbol_types
    FROM t JOIN sy USING (source)
    GROUP BY t.source, sy.n_symbol_types
    ORDER BY t.source
"""


@register(
    "text_bpe_tokenize",
    tags=("text", "tokenizer", "corpus"),
    oracle=_BPE_ORACLE,
)
def text_bpe_tokenize(spark, sf_dir):
    """BPE tokenization as PURE column expressions — no UDF in the hot
    path: each [a-z]+ word becomes a double-space symbol sequence (the
    encoding that makes replace() exact greedy BPE — see _BPE_MERGES)
    and the 20-merge table text_bpe_train learned on the gate corpus is
    applied as a chained replace() program in rank order; token count =
    surviving symbol count. The merge chain is the SAME SQL text on both
    engines, so the oracle checks the tokenizer's exact arithmetic —
    per-source word/char/token masses, integer tokens-per-word ppm, and
    the post-merge symbol-type census. Scale: one scan, one explode,
    whole-stage-codegen string ops, one groupBy on source — the
    token-counting pass every corpus budget (epoch planner,
    pack_sequences, temperature mix) starts from."""
    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    toks = F.split(F.lower(F.trim("text")), r"\s+")
    words = (
        d.select("source", F.explode(toks).alias("w"))
        .filter(F.col("w").rlike("^[a-z]+$"))
    )
    sym = "concat(' ', trim(regexp_replace(w, '(.)', '$1  ')), ' ')"
    b = words.withColumn("bpe", F.expr(_bpe_expr_sql(sym))).localCheckpoint(eager=False)
    per_source = b.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
        F.sum(F.length("w")).cast("bigint").alias("n_chars"),
        F.sum(F.size(F.split(F.trim(F.col("bpe")), "  "))).cast("bigint").alias("n_tokens"),
    )
    sy = (
        b.select("source", F.explode(F.split(F.trim(F.col("bpe")), "  ")).alias("s"))
        .groupBy("source")
        .agg(F.countDistinct("s").cast("bigint").alias("n_symbol_types"))
    )
    return (
        per_source.join(sy, "source")
        .select(
            "source",
            "n_words",
            "n_chars",
            "n_tokens",
            F.expr("CAST((n_tokens * CAST(1000000 AS BIGINT)) div n_words AS BIGINT)")
            .alias("tokens_per_word_ppm"),
            "n_symbol_types",
        )
        .orderBy("source")
    )


_BPE_BYTES_SYM_DUCK = (
    "concat(' ', trim(regexp_replace(hex(encode(w)), '(..)', '\\1  ', 'g')), ' ')"
)


def _bpe_bytes_oracle() -> str:
    merged = ", ".join(f"'{a}{b}'" for a, b in _BPE_BYTES_MERGES)
    return f"""
    WITH words AS (
        SELECT source, unnest(string_split_regex(trim(text), '\\s+')) AS w
        FROM documents
    ), lw AS (
        SELECT source, w FROM words WHERE w <> ''
    ), b AS (
        SELECT source, w,
               {_bpe_expr_sql(_BPE_BYTES_SYM_DUCK, _BPE_BYTES_MERGES)} AS bpe
        FROM lw
    ), t AS (
        SELECT source, w, bpe,
               len(string_split(trim(bpe), '  ')) AS n_tok,
               CAST(octet_length(encode(w)) AS BIGINT) AS nb,
               CASE WHEN replace(trim(bpe), ' ', '') = hex(encode(w))
                    THEN 0 ELSE 1 END AS rt_bad
        FROM b
    ), sy AS (
        SELECT source, unnest(string_split(trim(bpe), '  ')) AS s FROM b
    ), syx AS (
        SELECT source, CAST(count(DISTINCT s) AS BIGINT) AS n_symbol_types,
               CAST(sum(CASE WHEN length(s) = 2 OR s IN ({merged})
                             THEN 0 ELSE 1 END) AS BIGINT) AS oov_bad
        FROM sy GROUP BY source
    )
    SELECT t.source,
           CAST(count(*) AS BIGINT)   AS n_words,
           CAST(sum(nb) AS BIGINT)    AS n_bytes,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           CAST((sum(n_tok) * CAST(1000000 AS BIGINT)) // sum(nb) AS BIGINT)
               AS tokens_per_byte_ppm,
           syx.n_symbol_types,
           CAST(CASE WHEN syx.oov_bad = 0 THEN 1 ELSE 0 END AS INT) AS no_oov,
           CAST(CASE WHEN sum(rt_bad) = 0 THEN 1 ELSE 0 END AS INT)
               AS bytes_roundtrip
    FROM t JOIN syx USING (source)
    GROUP BY t.source, syx.n_symbol_types, syx.oov_bad
    ORDER BY t.source
    """


@register(
    "text_bpe_bytes",
    tags=("text", "tokenizer", "llm", "corpus"),
    bench=True,
    # The production GPT-2-style rung of the tokenizer ladder (VERDICT
    # r10 item 6): BYTE-level BPE with UTF-8 fallback. Unlike
    # text_bpe_tokenize's [a-z]+ char symbols, the base alphabet here
    # is the 256 bytes of each word's UTF-8 encoding (as hex pairs in
    # the exactness-certified double-space scheme — see _BPE_MERGES),
    # so EVERY string tokenizes: no_oov certifies every emitted symbol
    # is a base byte or a learned merge, and bytes_roundtrip certifies
    # the merged symbols concatenate back to the exact UTF-8 hex of
    # every word (merging never drops, duplicates, or reorders bytes —
    # the no-OOV property, pinned on adversarial multi-byte strings in
    # tests/test_bpe_bytes.py against a pure-Python reference). The
    # merge table is trained by the same unrolled-CTE program as
    # text_bpe_train, over byte symbols (_derive_bpe_bytes_merges).
    oracle=_bpe_bytes_oracle(),
)
def text_bpe_bytes(spark, sf_dir):
    """Byte-level BPE tokenization (GPT-2-style UTF-8 byte fallback) as
    pure column expressions: every whitespace token — ANY script, ANY
    punctuation, no [a-z] gate — becomes its UTF-8 hex-byte symbol
    sequence, and the byte-trained 20-merge table is applied as a
    chained replace() program in rank order (the same SQL text on both
    engines). Emits per-source word/byte/token masses, integer
    tokens-per-byte ppm, the post-merge symbol-type census, and two
    certified properties: no_oov (base-256 fallback — nothing is ever
    unrepresentable) and bytes_roundtrip (tokenization is a lossless
    re-grouping of the byte stream). Scale: one scan, one explode,
    whole-stage-codegen string ops, one groupBy on source."""
    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    words = (
        d.select("source", F.explode(F.split(F.trim("text"), r"\s+")).alias("w"))
        .filter(F.col("w") != "")
    )
    sym = "concat(' ', trim(regexp_replace(hex(encode(w, 'UTF-8')), '(..)', '$1  ')), ' ')"
    b = words.withColumn(
        "bpe", F.expr(_bpe_expr_sql(sym, _BPE_BYTES_MERGES))
    ).localCheckpoint(eager=False)
    t = b.select(
        "source",
        "w",
        "bpe",
        F.size(F.split(F.trim(F.col("bpe")), "  ")).alias("n_tok"),
        F.octet_length("w").cast("bigint").alias("nb"),
        F.when(
            F.replace(F.trim(F.col("bpe")), F.lit(" "), F.lit(""))
            == F.hex(F.encode(F.col("w"), "UTF-8")),
            0,
        )
        .otherwise(1)
        .alias("rt_bad"),
    )
    merged = [a + b_ for a, b_ in _BPE_BYTES_MERGES]
    syx = (
        b.select("source", F.explode(F.split(F.trim(F.col("bpe")), "  ")).alias("s"))
        .groupBy("source")
        .agg(
            F.countDistinct("s").cast("bigint").alias("n_symbol_types"),
            F.sum(
                F.when((F.length("s") == 2) | F.col("s").isin(merged), 0).otherwise(1)
            )
            .cast("bigint")
            .alias("oov_bad"),
        )
    )
    return (
        t.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("nb").cast("bigint").alias("n_bytes"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
            F.sum("rt_bad").cast("bigint").alias("rt_bad"),
        )
        .join(syx, "source")
        .select(
            "source",
            "n_words",
            "n_bytes",
            "n_tokens",
            F.expr("CAST((n_tokens * CAST(1000000 AS BIGINT)) div n_bytes AS BIGINT)")
            .alias("tokens_per_byte_ppm"),
            "n_symbol_types",
            F.when(F.col("oov_bad") == 0, 1).otherwise(0).cast("int").alias("no_oov"),
            F.when(F.col("rt_bad") == 0, 1).otherwise(0).cast("int").alias("bytes_roundtrip"),
        )
        .orderBy("source")
    )


@register(
    "text_bpe_train",
    tags=("text", "tokenizer", "corpus"),
    oracle=_bpe_train_oracle(),
)
def text_bpe_train(spark, sf_dir):
    """BPE tokenizer TRAINING — the loop text_bpe_pair_census is one
    step of, run to 20 merges and fully oracled (the DuckDB side replays
    the identical 20-stage program as unrolled materialized CTEs).
    Spark-first shape: ONE corpus scan builds the weighted vocab
    (distinct [a-z]{2,} word -> count) — the classic Sennrich reduction:
    after that, every training iteration is an adjacent-pair census over
    the CACHED vocab (|vocab| << |corpus|), an argmax collect (one row —
    control plane), and a replace() on the symbol encoding. At 100 TB
    the corpus pass is the only big job; the 20-iteration loop runs on a
    frame the size of the language's vocabulary. Tie-break: count desc,
    then pair (a, b) asc, so the learned table is deterministic.
    _BPE_MERGES (consumed by text_bpe_tokenize) is this entry's output
    on the gate corpus — the train -> apply loop the reference's corpus
    prep implies (dbsys21/lakehouse-tacklebox 02-Data-preparation.py)."""
    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    toks = F.split(F.lower(F.trim("text")), r"\s+")
    vocab = (
        d.select(F.explode(toks).alias("w"))
        .filter(F.col("w").rlike("^[a-z]+$") & (F.length("w") >= 2))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .select(
            F.expr("concat(' ', trim(regexp_replace(w, '(.)', '$1  ')), ' ')").alias("sym"),
            "cnt",
        )
        .cache()
    )
    try:
        merges: list[tuple[int, str, str, int]] = []
        sym_expr = "sym"
        for rank in range(1, _BPE_TRAIN_N + 1):
            # Spark arrays are 0-indexed (DuckDB's are 1-indexed) — the
            # pair census below is the same statistic as the oracle's.
            top = (
                vocab.select(
                    F.expr(f"split(trim({sym_expr}), '  ')").alias("s"), "cnt"
                )
                .select(
                    # sequence(1, 0) DESCENDS in Spark, so a fully-merged
                    # single-symbol word must short-circuit to a typed empty.
                    F.explode(
                        F.expr(
                            "CASE WHEN size(s) >= 2 THEN"
                            " transform(sequence(1, size(s) - 1),"
                            " i -> struct(s[i-1] AS a, s[i] AS b))"
                            " ELSE CAST(array() AS array<struct<a:string,b:string>>) END"
                        )
                    ).alias("p"),
                    "cnt",
                )
                .groupBy("p.a", "p.b")
                .agg(F.sum("cnt").cast("bigint").alias("n"))
                .orderBy(F.desc("n"), "a", "b")
                .limit(1)
                .collect()
            )
            if not top:
                # Degenerate/tiny corpus: the weighted vocab ran out of
                # adjacent pairs before _BPE_TRAIN_N merges — emit the
                # merges learned so far instead of IndexError (ADVICE r9).
                break
            a, b, n = top[0]["a"], top[0]["b"], top[0]["n"]
            merges.append((rank, a, b, int(n)))
            sym_expr = f"replace({sym_expr}, ' {a}  {b} ', ' {a}{b} ')"
        return spark.createDataFrame(
            [(r, a, b, a + b, n) for r, a, b, n in merges],
            "rank int, pair_a string, pair_b string, merged string, pair_count bigint",
        ).orderBy("rank")
    finally:
        vocab.unpersist()


@register(
    "text_bpe_bytes_train",
    tags=("text", "tokenizer", "llm", "corpus"),
    # The TRAIN side of the byte-level family (text_bpe_bytes is the
    # apply side, consuming this entry's pinned output) — the same
    # Sennrich reduction as text_bpe_train run over UTF-8 hex-byte
    # symbols of EVERY whitespace token: one corpus scan builds the
    # weighted byte-symbol vocab, then each of the 20 iterations is an
    # adjacent-pair census over the cached vocab + a one-row argmax +
    # a replace(). The oracle replays the identical 20-stage program
    # as unrolled materialized CTEs over the byte v0
    # (_bpe_train_oracle(v0_sql=_BPE_BYTES_V0)), and the trainer is
    # certified equal to a brute-force pure-Python byte trainer in
    # tests/test_bpe_bytes.py.
    oracle=_bpe_train_oracle(v0_sql=_BPE_BYTES_V0),
)
def text_bpe_bytes_train(spark, sf_dir):
    """Byte-level BPE TRAINING (the GPT-2 shape: base alphabet = the
    256 UTF-8 bytes, so training needs no character filter and the
    learned tokenizer can never go out-of-vocabulary): weighted vocab
    over every whitespace token's hex-byte symbol sequence, then 20
    merge iterations — pair census over the |vocab|-sized cached frame,
    deterministic argmax (count desc, pair asc), replace(). At 100 TB
    the corpus pass is the only big job; the loop runs on a frame the
    size of the token inventory."""
    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    toks = F.split(F.trim("text"), r"\s+")
    vocab = (
        d.select(F.explode(toks).alias("w"))
        .filter((F.col("w") != "") & (F.octet_length("w") >= 2))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .select(
            F.expr(
                "concat(' ', trim(regexp_replace(hex(encode(w, 'UTF-8')),"
                " '(..)', '$1  ')), ' ')"
            ).alias("sym"),
            "cnt",
        )
        .groupBy("sym")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
        .cache()
    )
    try:
        merges: list[tuple[int, str, str, int]] = []
        sym_expr = "sym"
        for rank in range(1, _BPE_TRAIN_N + 1):
            top = (
                vocab.select(
                    F.expr(f"split(trim({sym_expr}), '  ')").alias("s"), "cnt"
                )
                .select(
                    F.explode(
                        F.expr(
                            "CASE WHEN size(s) >= 2 THEN"
                            " transform(sequence(1, size(s) - 1),"
                            " i -> struct(s[i-1] AS a, s[i] AS b))"
                            " ELSE CAST(array() AS array<struct<a:string,b:string>>) END"
                        )
                    ).alias("p"),
                    "cnt",
                )
                .groupBy("p.a", "p.b")
                .agg(F.sum("cnt").cast("bigint").alias("n"))
                .orderBy(F.desc("n"), "a", "b")
                .limit(1)
                .collect()
            )
            if not top:
                break
            a, b, n = top[0]["a"], top[0]["b"], top[0]["n"]
            merges.append((rank, a, b, int(n)))
            sym_expr = f"replace({sym_expr}, ' {a}  {b} ', ' {a}{b} ')"
        return spark.createDataFrame(
            [(r, a, b, a + b, n) for r, a, b, n in merges],
            "rank int, pair_a string, pair_b string, merged string, pair_count bigint",
        ).orderBy("rank")
    finally:
        vocab.unpersist()


@register(
    "text_bpe_pair_census",
    tags=("text", "tokenizer", "corpus"),
    oracle="""
    WITH words AS (
        SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
        FROM documents
    ), lw AS (
        SELECT w FROM words WHERE regexp_matches(w, '^[a-z]+$') AND length(w) >= 2
    ), pairs AS (
        SELECT unnest(list_transform(range(2, length(w) + 1),
                      i -> w[i-1] || ' ' || w[i])) AS pair
        FROM lw
    )
    SELECT pair, CAST(count(*) AS BIGINT) AS n
    FROM pairs
    GROUP BY pair
    ORDER BY n DESC, pair
    LIMIT 10
    """,
)
def text_bpe_pair_census(spark, sf_dir):
    """The BPE TRAINING statistic: the exact census of adjacent symbol
    pairs over the corpus' [a-z]+ words — rank 1 is the pair a tokenizer
    trainer would merge first, and iterating this census IS BPE
    training. One scan, one explode (length-1 pairs per word), one
    census shuffle keyed on the pair, fully tie-broken top-10; the same
    map-side-combining shape as the vocabulary census, so 100 TB costs
    one pass plus a distinct-pairs-sized aggregate. Complements
    text_bpe_tokenize (which APPLIES a trained table): together they
    cover the tokenizer train/apply split."""
    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    toks = F.split(F.lower(F.trim("text")), r"\s+")
    words = (
        d.select(F.explode(toks).alias("w"))
        .filter(F.col("w").rlike("^[a-z]+$") & (F.length("w") >= 2))
    )
    pairs = words.select(
        F.explode(
            F.expr(
                "transform(sequence(2, length(w)), "
                "i -> concat(substring(w, i-1, 1), ' ', substring(w, i, 1)))"
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(10)
    )


@register(
    "text_span_excision",
    tags=("text", "dedup", "corpus"),
    # The REMOVAL transform text_duplicate_spans' docstring promises
    # ("the per-position flags are exactly the strip mask"): every
    # token covered by a cross-document duplicated 8-token window is
    # excised and the doc is reassembled from the kept runs. The oracle
    # replays the full program — window census, interval union,
    # kept-segment count, and the md5 of the REASSEMBLED cleaned text —
    # so the transform's actual output content is hash-compared, not
    # just its bookkeeping. coalesce('') keeps the all-removed edge
    # case engine-identical (string_agg over zero rows is NULL in
    # DuckDB; concat_ws over an empty array is '' in Spark).
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
        FROM documents
    ), wins AS (
        SELECT doc_id, CAST(u.i AS BIGINT) AS i,
               ('0x' || substr(md5(array_to_string(
                   t[(CAST(u.i AS INT)+1):(CAST(u.i AS INT)+8)], ' ')), 1, 15)
               )::BIGINT AS h
        FROM toks, unnest(range(0, len(t) - 7)) AS u(i)
        WHERE len(t) >= 8
    ), census AS (
        SELECT h FROM wins GROUP BY h HAVING count(DISTINCT doc_id) >= 2
    ), starts AS (
        SELECT w.doc_id, w.i FROM wins w JOIN census USING (h)
    ), removed AS (
        SELECT DISTINCT doc_id, i + CAST(r.d AS BIGINT) AS pos
        FROM starts, unnest(range(0, 8)) AS r(d)
    ), positions AS (
        SELECT doc_id, CAST(u.p AS BIGINT) AS pos,
               t[CAST(u.p AS INT) + 1] AS tok
        FROM toks, unnest(range(0, len(t))) AS u(p)
    ), j AS (
        SELECT p.doc_id, p.pos, p.tok,
               (r.pos IS NOT NULL) AS rm,
               lag(r.pos IS NOT NULL) OVER (
                   PARTITION BY p.doc_id ORDER BY p.pos) AS prev_rm
        FROM positions p LEFT JOIN removed r USING (doc_id, pos)
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
           CAST(sum(CASE WHEN NOT rm AND (pos = 0 OR prev_rm)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_segments,
           md5(coalesce(string_agg(CASE WHEN NOT rm THEN tok END,
                                   ' ' ORDER BY pos), '')) AS cleaned_md5
    FROM j
    GROUP BY doc_id
    HAVING sum(CASE WHEN rm THEN 1 ELSE 0 END) > 0
    ORDER BY doc_id
    """,
)
def text_span_excision(spark, sf_dir):
    """Duplicate-span EXCISION — the transform half of the Lee et al.
    ExactSubstr dedup (text_duplicate_spans is the census half): every
    token covered by any cross-document duplicated 8-token window is
    removed (interval UNION of flagged [i, i+8) spans), and each
    affected doc reports its token mass, removed count, number of
    surviving runs (the attention-segment boundaries a packed-sequence
    trainer needs), and the md5 of the reassembled cleaned text — the
    content itself is oracle-pinned. Scale: tokenize once, window
    census shuffle (shared shape with text_duplicate_spans), flagged
    starts explode ≤8× the flagged mass, one per-doc position frame
    (linear in tokens) with a single per-doc window pass — no joins
    back to raw text, and the census side is the deduplicated shingle
    space."""
    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    toks = F.split(F.lower(F.trim("text")), r"\s+")
    base = _spread(d.select("doc_id", toks.alias("t")))
    base = base.localCheckpoint(eager=False)
    wins = (
        base.filter(F.size("t") >= 8)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.size("t") - 8)).alias("i"),
            "t",
        )
        .select(
            "doc_id",
            F.col("i").cast("bigint").alias("i"),
            D.md5_hash60(F.expr("concat_ws(' ', slice(t, CAST(i AS INT)+1, 8))")).alias("h"),
        )
    )
    census = (
        wins.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .select("h")
    )
    starts = wins.join(census, "h").select("doc_id", "i")
    removed = (
        starts.select("doc_id", F.explode(F.sequence(F.col("i"), F.col("i") + 7)).alias("pos"))
        .distinct()
        .withColumn("rm", F.lit(1))
    )
    positions = base.select(
        "doc_id",
        F.posexplode("t").alias("pos", "tok"),
    ).select("doc_id", F.col("pos").cast("bigint").alias("pos"), "tok")
    w = W.partitionBy("doc_id").orderBy("pos")
    j = (
        positions.join(removed, ["doc_id", "pos"], "left")
        .withColumn("prev_rm", F.lag("rm").over(w))
    )
    kept_struct = F.when(F.col("rm").isNull(), F.struct("pos", "tok"))
    return (
        j.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum(F.coalesce(F.col("rm"), F.lit(0))).cast("bigint").alias("n_removed"),
            F.sum(
                F.when(
                    F.col("rm").isNull()
                    & ((F.col("pos") == 0) | (F.col("prev_rm") == 1)),
                    1,
                ).otherwise(0)
            ).cast("bigint").alias("n_kept_segments"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.expr(
                        "transform(array_sort(filter(collect_list("
                        "CASE WHEN rm IS NULL THEN struct(pos, tok) END), x -> x IS NOT NULL)), s -> s.tok)"
                    ),
                )
            ).alias("cleaned_md5"),
        )
        .filter(F.col("n_removed") > 0)
        .orderBy("doc_id")
    )


@register(
    "text_span_excision_incremental",
    tags=("text", "dedup", "corpus", "incremental", "tablestore"),
    # The INGEST shape of ExactSubstr excision (VERDICT r9 item 4): the
    # already-ingested corpus (doc_id % 3 != 0) has its full window
    # census persisted in a TackleTable; the NEW batch (doc_id % 3 = 0)
    # is excised against that store — a window is flagged iff it exists
    # anywhere in the ingested census OR is duplicated WITHIN the batch,
    # which is exactly the full-recompute condition restricted to batch
    # docs (union distinct-doc count >= 2 <=> existing >= 1 OR batch
    # >= 2, since the doc sets are disjoint). The oracle replays the
    # two-phase program content-level (md5 of each reassembled doc);
    # census_merge_match additionally certifies the MAINTENANCE half —
    # the store after merging the batch's counts equals a from-scratch
    # census of the union, read BACK from the table (disjoint doc sets
    # => counts add; certified by recompute, pinned 1). Equivalence to
    # the batch entry and to an independent pure-Python brute force is
    # pinned in tests/test_span_excision.py.
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
        FROM documents
    ), wins AS (
        SELECT doc_id, CAST(u.i AS BIGINT) AS i,
               ('0x' || substr(md5(array_to_string(
                   t[(CAST(u.i AS INT)+1):(CAST(u.i AS INT)+8)], ' ')), 1, 15)
               )::BIGINT AS h
        FROM toks, unnest(range(0, len(t) - 7)) AS u(i)
        WHERE len(t) >= 8
    ), exist_census AS (
        SELECT h, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM wins WHERE doc_id % 3 != 0 GROUP BY h
    ), inc_wins AS (
        SELECT * FROM wins WHERE doc_id % 3 = 0
    ), inc_census AS (
        SELECT h, count(DISTINCT doc_id) AS n_inc FROM inc_wins GROUP BY h
    ), flagged AS (
        SELECT i.h
        FROM inc_census i LEFT JOIN exist_census e USING (h)
        WHERE coalesce(e.n_docs, 0) >= 1 OR i.n_inc >= 2
    ), starts AS (
        SELECT w.doc_id, w.i FROM inc_wins w JOIN flagged USING (h)
    ), removed AS (
        SELECT DISTINCT doc_id, i + CAST(r.d AS BIGINT) AS pos
        FROM starts, unnest(range(0, 8)) AS r(d)
    ), positions AS (
        SELECT doc_id, CAST(u.p AS BIGINT) AS pos,
               t[CAST(u.p AS INT) + 1] AS tok
        FROM toks, unnest(range(0, len(t))) AS u(p)
        WHERE doc_id % 3 = 0
    ), j AS (
        SELECT p.doc_id, p.pos, p.tok,
               (r.pos IS NOT NULL) AS rm,
               lag(r.pos IS NOT NULL) OVER (
                   PARTITION BY p.doc_id ORDER BY p.pos) AS prev_rm
        FROM positions p LEFT JOIN removed r USING (doc_id, pos)
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
           CAST(sum(CASE WHEN NOT rm AND (pos = 0 OR prev_rm)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_segments,
           md5(coalesce(string_agg(CASE WHEN NOT rm THEN tok END,
                                   ' ' ORDER BY pos), '')) AS cleaned_md5,
           CAST(1 AS INT) AS census_merge_match
    FROM j
    GROUP BY doc_id
    HAVING sum(CASE WHEN rm THEN 1 ELSE 0 END) > 0
    ORDER BY doc_id
    """,
)
def text_span_excision_incremental(spark, sf_dir):
    """Incremental duplicate-span excision — text_span_excision's 100 TB
    ingest posture (the corpus_incremental_dedup flow applied to Lee et
    al. ExactSubstr): the ingested corpus' WINDOW CENSUS (h, n_docs) is
    the persisted index (a TackleTable keyed on the 60-bit window hash);
    a new batch tokenizes once, flags any window present in the store OR
    duplicated within the batch, excises the interval union, and then
    folds its own census into the store for the next batch. Cost per
    batch: tokenize + window the batch, one equi-join on h against the
    store, one per-doc window pass — the ingested corpus' TEXT is never
    re-read (only its census), which is what makes excision affordable
    as a standing ingest stage. The census merge is one ``fold_sums``
    (one snapshot read, one txn-stamped replace). Incremental == full
    recompute restricted to batch docs (disjoint doc sets; proven in the
    register note and pinned against both the batch entry and a
    pure-Python brute force in tests). census_merge_match certifies the
    post-merge store, read back, equals a from-scratch union census."""
    import os
    import tempfile

    from lakehouse_tacklebox_spark.streaming.mv import fold_sums
    from lakehouse_tacklebox_spark.tablestore.table import TackleTable

    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    toks = F.split(F.lower(F.trim("text")), r"\s+")
    base = _spread(d.select("doc_id", toks.alias("t"))).localCheckpoint(eager=False)
    wins = (
        base.filter(F.size("t") >= 8)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.size("t") - 8)).alias("i"),
            "t",
        )
        .select(
            "doc_id",
            F.col("i").cast("bigint").alias("i"),
            D.md5_hash60(F.expr("concat_ws(' ', slice(t, CAST(i AS INT)+1, 8))")).alias("h"),
        )
    )
    exist_wins = wins.filter(F.col("doc_id") % 3 != 0)
    inc_wins = wins.filter(F.col("doc_id") % 3 == 0).localCheckpoint(eager=False)

    # the persisted index: FULL census of the ingested corpus (every
    # window hash, n_docs >= 1 — a 1-doc window still dupes an incoming
    # occurrence, so the store must hold it)
    exist_census = exist_wins.groupBy("h").agg(
        F.count_distinct("doc_id").cast("bigint").alias("n_docs")
    )
    tmp = tempfile.mkdtemp(prefix="spanidx_")
    store = TackleTable.create(spark, os.path.join(tmp, "census"), exist_census)

    stored = store.read()  # the batch only ever sees the STORE
    inc_census = inc_wins.groupBy("h").agg(
        F.count_distinct("doc_id").cast("bigint").alias("n_inc")
    ).localCheckpoint(eager=False)
    flagged = (
        inc_census.join(stored.select("h", "n_docs"), "h", "left")
        .filter((F.coalesce(F.col("n_docs"), F.lit(0)) >= 1) | (F.col("n_inc") >= 2))
        .select("h")
    )
    starts = inc_wins.join(flagged, "h").select("doc_id", "i")
    removed = (
        starts.select(
            "doc_id", F.explode(F.sequence(F.col("i"), F.col("i") + 7)).alias("pos")
        )
        .distinct()
        .withColumn("rm", F.lit(1))
    )
    positions = (
        base.filter(F.col("doc_id") % 3 == 0)
        .select("doc_id", F.posexplode("t").alias("pos", "tok"))
        .select("doc_id", F.col("pos").cast("bigint").alias("pos"), "tok")
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    j = (
        positions.join(removed, ["doc_id", "pos"], "left")
        .withColumn("prev_rm", F.lag("rm").over(w))
    )

    # maintenance: fold the batch's census into the store (disjoint doc
    # sets => counts add), then certify the read-back against a
    # from-scratch census of the union.
    fold_sums(
        store, inc_census.withColumnRenamed("n_inc", "n_docs"), ["h"], ("span_census_merge", 1)
    )
    back = TackleTable(spark, os.path.join(tmp, "census")).read()
    union_census = wins.groupBy("h").agg(
        F.count_distinct("doc_id").cast("bigint").alias("n_docs")
    )
    n_union = union_census.count()
    n_match = back.join(union_census, ["h", "n_docs"]).count()
    merge_ok = (back.count() == n_union) and (n_match == n_union)

    return (
        j.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum(F.coalesce(F.col("rm"), F.lit(0))).cast("bigint").alias("n_removed"),
            F.sum(
                F.when(
                    F.col("rm").isNull()
                    & ((F.col("pos") == 0) | (F.col("prev_rm") == 1)),
                    1,
                ).otherwise(0)
            ).cast("bigint").alias("n_kept_segments"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.expr(
                        "transform(array_sort(filter(collect_list("
                        "CASE WHEN rm IS NULL THEN struct(pos, tok) END), x -> x IS NOT NULL)), s -> s.tok)"
                    ),
                )
            ).alias("cleaned_md5"),
        )
        .filter(F.col("n_removed") > 0)
        .withColumn("census_merge_match", F.lit(1 if merge_ok else 0).cast("int"))
        .orderBy("doc_id")
    )


@register(
    "dedup_incremental_lsh",
    bench=True,
    tags=("dedup", "text", "lsh", "incremental", "tablestore"),
    # The near-dup INGEST shape (the corpus_incremental_dedup posture
    # applied to MinHash-LSH, completing the incremental trio with
    # dedup_incremental / text_span_excision_incremental): the ingested
    # corpus' band-bucket rows are the persisted LSH INDEX (a
    # TackleTable); a new batch signs itself, equi-joins its buckets
    # against the STORE (batch x history candidates) and against itself
    # (within-batch), and exact-verifies ONLY those candidates — history
    # text is re-read only for the matched docs, never re-banded. The
    # oracle is the exact-Jaccard pair set restricted to pairs touching
    # the batch (id % 3 = 0): signatures are per-doc, so the split
    # changes nothing about which pairs band together, and the
    # dedup_minhash_lsh recall-1 precondition (gate pair floor j >= 0.8
    # vs the 16x3 S-curve) carries over unchanged. index_merge_match
    # certifies the MAINTENANCE half: the store after appending the
    # batch's buckets, read BACK, equals a from-scratch banding of the
    # full corpus row-for-row.
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
        FROM documents
    ), sh AS (
        SELECT doc_id,
               list_distinct([array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)]) AS shingles
        FROM toks WHERE len(t) >= 3
    ), sizes AS (
        SELECT doc_id, len(shingles) AS sz FROM sh
    ), ex AS (
        SELECT doc_id, unnest(shingles) AS s FROM sh
    ), inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b,
           round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 4) AS jaccard,
           CAST(1 AS INT) AS index_merge_match
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.2
      AND (id_a % 3 = 0 OR id_b % 3 = 0)
    ORDER BY id_a, id_b
    """,
)
def dedup_incremental_lsh(spark, sf_dir):
    """Incremental MinHash-LSH near-dup — dedup_minhash_lsh's 100 TB
    ingest posture: the already-ingested corpus (doc_id % 3 != 0) is
    represented ONLY by its persisted band-bucket index (and its text,
    touched per matched doc at verify time); the new batch (doc_id % 3
    = 0) signs once, probes the bucket store with one equi-join, adds
    its within-batch buckets, exact-verifies the candidate pairs, and
    appends its own buckets to the index for the next batch. Cost per
    batch ∝ batch size + matched candidates — history is never
    re-signed. The store append is certified by read-back against a
    from-scratch banding of the union (index_merge_match)."""
    import os
    import shutil
    import tempfile

    from lakehouse_tacklebox_spark.tablestore.table import TackleTable

    d = _spread(load_tables(spark, sf_dir, ["documents"])["documents"])
    sh = D.shingle_hashes(d.select("doc_id", "text"), "text", n=3).persist()
    sigs = D.minhash_signatures(sh, "doc_id", "shingles", num_hashes=48).filter(
        F.col("sig").getItem(0).isNotNull()
    )
    buckets_exist = D.lsh_band_buckets(
        sigs.filter(F.col("doc_id") % 3 != 0), "doc_id", bands=16, rows_per_band=3
    )
    buckets_inc = D.lsh_band_buckets(
        sigs.filter(F.col("doc_id") % 3 == 0), "doc_id", bands=16, rows_per_band=3
    ).localCheckpoint(eager=True)

    tmp = tempfile.mkdtemp(prefix="lshidx_")
    store = TackleTable.create(spark, os.path.join(tmp, "idx"), buckets_exist)

    stored = store.read()  # the batch only ever sees the STORE
    # (read() pins the store's file list at call time, so the probe sees
    # the pre-append version no matter when its job actually runs — the
    # same property the lazily-returned result always relied on)

    # Two independent job chains (guide §2.6 overlap): the probe+verify
    # leg (batch buckets against the store and itself, exact Jaccard on
    # the candidates) and the maintenance leg (append the batch's
    # buckets, certify the read-back against a from-scratch banding by
    # the shared 4-fold row-set signature — one map-side aggregate pass
    # per side, VERDICT r11 item 5; full row-set equality stays pinned
    # at sf0.001 in tests/test_lsh_neardup.py). Neither leg reads the
    # other's output, so overlapping them back-fills each other's
    # stragglers instead of running two under-parallel chains serially.
    from lakehouse_tacklebox_spark.operators.concurrency import run_concurrent
    from lakehouse_tacklebox_spark.operators.signature import rowset_signature

    def verify_leg():
        cross = (
            buckets_inc.select(
                F.col("doc_id").alias("inc_id"), "band", "band_hash"
            )
            .join(stored.select(F.col("doc_id").alias("ex_id"), "band", "band_hash"),
                  ["band", "band_hash"])
            .select(
                F.least("inc_id", "ex_id").alias("id_a"),
                F.greatest("inc_id", "ex_id").alias("id_b"),
            )
        )
        a = buckets_inc.select(F.col("doc_id").alias("id_a"), "band", "band_hash")
        b = buckets_inc.select(F.col("doc_id").alias("id_b"), "band", "band_hash")
        within = (
            a.join(b, ["band", "band_hash"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
        )
        cand = cross.unionByName(within).distinct()
        return (
            D.jaccard_for_pairs(cand, sh, "doc_id", "shingles")
            .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
            .filter(F.col("jaccard") >= 0.2)
            .localCheckpoint(eager=True)
        )

    def maintenance_leg():
        store.append(buckets_inc, txn=("lsh_index_append", 1))
        back = TackleTable(spark, os.path.join(tmp, "idx")).read()
        full = D.lsh_band_buckets(sigs, "doc_id", bands=16, rows_per_band=3)
        cols = ["doc_id", "band", "band_hash"]
        return rowset_signature(back, cols) == rowset_signature(full, cols)

    try:
        verified, merge_ok = run_concurrent(spark, verify_leg, maintenance_leg)
    finally:
        # verified is an eager checkpoint: nothing reads the shingles or
        # the store after the legs return
        sh.unpersist()
        shutil.rmtree(tmp, ignore_errors=True)

    return (
        verified
        .withColumn("index_merge_match", F.lit(1 if merge_ok else 0).cast("int"))
        .orderBy("id_a", "id_b")
    )


@register(
    "text_contamination_attribution",
    tags=("corpus", "dedup", "decontamination", "text"),
    # The ATTRIBUTION half of benchmark decontamination (the GPT-3
    # appendix-C / contamination-audit report): text_decontaminate says
    # HOW MANY training docs leak; this says WHICH eval items are
    # compromised, BY WHICH training docs, and how badly — per eval doc
    # the top-3 leaking train docs by distinct shared 5-grams, with the
    # leaked share of the eval doc's gram set in integer ppm. Same
    # 5-gram/same split as text_decontaminate so the two entries audit
    # one contamination surface from both sides.
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
        FROM documents
    ), sh AS (
        SELECT doc_id,
               list_distinct([array_to_string(t[i:i+4], ' ') for i in range(1, len(t) - 3)]) AS shingles
        FROM toks WHERE len(t) >= 5
    ), ev AS (
        SELECT doc_id AS eval_id, unnest(shingles) AS s FROM sh WHERE doc_id % 20 = 0
    ), evsz AS (
        SELECT eval_id, CAST(count(*) AS BIGINT) AS eval_grams
        FROM ev GROUP BY eval_id
    ), tr AS (
        SELECT doc_id AS train_id, unnest(shingles) AS s FROM sh WHERE doc_id % 20 != 0
    ), shared AS (
        SELECT ev.eval_id, tr.train_id, CAST(count(*) AS BIGINT) AS n_shared
        FROM ev JOIN tr USING (s)
        GROUP BY 1, 2
        HAVING count(*) >= 2
    )
    SELECT eval_id, train_id, n_shared, eval_grams,
           CAST(n_shared * 1000000 // eval_grams AS BIGINT) AS share_ppm,
           CAST(rank AS BIGINT) AS rank
    FROM (
        SELECT sh.*, e.eval_grams,
               row_number() OVER (PARTITION BY sh.eval_id
                                  ORDER BY sh.n_shared DESC, sh.train_id) AS rank
        FROM shared sh JOIN evsz e USING (eval_id)
    ) WHERE rank <= 3
    ORDER BY eval_id, rank
    """,
)
def text_contamination_attribution(spark, sf_dir):
    """Contamination attribution — per held-out eval doc, the top-3
    training docs leaking it (distinct shared 5-grams >= 2) and the
    leaked fraction of the eval doc's gram set in ppm: the report a
    benchmark owner actually files, naming the compromised items and
    their sources, where text_decontaminate only counts them. Scale
    shape: the eval side is the FIXED benchmark suite, so its posting
    list broadcasts; the training corpus is scanned once (explode to
    distinct grams), semi-joins the broadcast postings, and the pair
    census is keyed on (eval, train) — bounded by real overlaps, never
    all pairs. The grams join as strings at gate scale; at 100 TB the
    same plan runs over md5-hashed grams (the dedup-family trade,
    documented rather than silently assumed exact)."""
    d = _spread(load_tables(spark, sf_dir, ["documents"])["documents"])
    toks = F.split(F.lower(F.trim("text")), r"\s+")
    grams = F.expr(
        "CASE WHEN size(t) >= 5 THEN array_distinct(transform(sequence(1, size(t) - 4),"
        " i -> concat_ws(' ', t[i-1], t[i], t[i+1], t[i+2], t[i+3])))"
        " ELSE CAST(array() AS array<string>) END"
    )
    sh = (
        d.select("doc_id", toks.alias("t"))
        .select("doc_id", grams.alias("shingles"))
        .filter(F.size("shingles") > 0)
        .localCheckpoint(eager=False)
    )
    ev = sh.filter(F.col("doc_id") % 20 == 0).select(
        F.col("doc_id").alias("eval_id"), F.explode("shingles").alias("s")
    )
    evsz = ev.groupBy("eval_id").agg(F.count(F.lit(1)).cast("bigint").alias("eval_grams"))
    tr = sh.filter(F.col("doc_id") % 20 != 0).select(
        F.col("doc_id").alias("train_id"), F.explode("shingles").alias("s")
    )
    shared = (
        tr.join(F.broadcast(ev), "s")
        .groupBy("eval_id", "train_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )
    w = W.partitionBy("eval_id").orderBy(F.col("n_shared").desc(), "train_id")
    return (
        shared.join(F.broadcast(evsz), "eval_id")
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 3)
        .select(
            "eval_id",
            "train_id",
            "n_shared",
            "eval_grams",
            F.expr("CAST(n_shared * 1000000 DIV eval_grams AS BIGINT)").alias("share_ppm"),
            "rank",
        )
        .orderBy("eval_id", "rank")
    )


@register(
    "cdc_span_census_deletes",
    tags=("text", "dedup", "cdf", "incremental", "tablestore"),
    # The DELETE half of the span-census index lifecycle (the
    # cdc_ann_index_deletes posture applied to ExactSubstr):
    # text_span_excision_incremental proved the census MERGES under
    # appends; a GDPR forget-list is the other direction — the
    # forgotten docs' window counts must LEAVE the store (decrement
    # per-h by the forgotten docs' distinct-doc counts, drop rows
    # hitting zero; doc sets partition, so store − forgotten ==
    # survivors exactly). The decrement is txn-stamped and replayed
    # twice (a crashed-and-retried forget epoch cannot double-subtract
    # — double-subtraction would UNDER-excise future batches, a silent
    # compliance hole). n_hashes_before/after are SQL-derivable;
    # decrement_match certifies the read-back store == a from-scratch
    # census of the survivors; replay_noop pins idempotence.
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
        FROM documents
    ), wins AS (
        SELECT doc_id,
               ('0x' || substr(md5(array_to_string(
                   t[(CAST(u.i AS INT)+1):(CAST(u.i AS INT)+8)], ' ')), 1, 15)
               )::BIGINT AS h
        FROM toks, unnest(range(0, len(t) - 7)) AS u(i)
        WHERE len(t) >= 8
    ), before_c AS (
        SELECT CAST(count(DISTINCT h) AS BIGINT) AS n FROM wins
    ), after_c AS (
        SELECT CAST(count(DISTINCT h) AS BIGINT) AS n
        FROM wins WHERE doc_id % 11 != 5
    )
    SELECT b.n AS n_hashes_before,
           a.n AS n_hashes_after,
           CAST(b.n - a.n AS BIGINT) AS n_hashes_removed,
           CAST(1 AS INT) AS decrement_match,
           CAST(1 AS INT) AS replay_noop
    FROM before_c b CROSS JOIN after_c a
    """,
)
def cdc_span_census_deletes(spark, sf_dir):
    """GDPR deletes against the persisted ExactSubstr window census: the
    forget-list's window counts are DECREMENTED out of the store (never
    a recompute of the surviving corpus — cost ∝ the forgotten docs),
    rows hitting zero are dropped (one ``TackleTable.rewrite``), the
    epoch is Delta-txn stamped and a deliberate double-replay must
    no-op, and the post-delete store is read BACK and certified equal
    to a from-scratch census of the survivors. Completes the census index lifecycle: build
    (text_span_excision), merge-on-ingest (the incremental entry), and
    now forget — the three operations a standing 100 TB dedup index
    actually serves."""
    import os
    import shutil
    import tempfile

    from lakehouse_tacklebox_spark.tablestore.table import TackleTable

    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    toks = F.split(F.lower(F.trim("text")), r"\s+")
    base = _spread(d.select("doc_id", toks.alias("t"))).localCheckpoint(eager=False)
    wins = (
        base.filter(F.size("t") >= 8)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.size("t") - 8)).alias("i"),
            "t",
        )
        .select(
            "doc_id",
            D.md5_hash60(F.expr("concat_ws(' ', slice(t, CAST(i AS INT)+1, 8))")).alias("h"),
        )
    ).localCheckpoint(eager=False)

    census_all = wins.groupBy("h").agg(
        F.count_distinct("doc_id").cast("bigint").alias("n_docs")
    )
    tmp = tempfile.mkdtemp(prefix="spanforget_")
    try:
        store = TackleTable.create(spark, os.path.join(tmp, "census"), census_all)
        n_before = store.read().count()

        # the forget-list's own census (cost ∝ deleted docs, not the corpus)
        del_census = (
            wins.filter(F.col("doc_id") % 11 == 5)
            .groupBy("h")
            .agg(F.count_distinct("doc_id").cast("bigint").alias("n_del"))
            .localCheckpoint(eager=True)
        )

        def _apply_forget(epoch: int) -> None:
            # a retried epoch the log already holds no-ops inside rewrite
            TackleTable(spark, os.path.join(tmp, "census")).rewrite(
                lambda rows: rows.join(del_census, "h", "left")
                .select(
                    "h",
                    (F.col("n_docs") - F.coalesce(F.col("n_del"), F.lit(0)))
                    .cast("bigint")
                    .alias("n_docs"),
                )
                .filter(F.col("n_docs") > 0),
                txn=("census_forget", epoch),
            )

        _apply_forget(1)
        v_after = TackleTable(spark, os.path.join(tmp, "census")).version()
        _apply_forget(1)
        _apply_forget(1)
        replay_noop = TackleTable(spark, os.path.join(tmp, "census")).version() == v_after

        back = TackleTable(spark, os.path.join(tmp, "census")).read()
        surv = (
            wins.filter(F.col("doc_id") % 11 != 5)
            .groupBy("h")
            .agg(F.count_distinct("doc_id").cast("bigint").alias("n_docs"))
        )
        n_surv = surv.count()
        n_match = back.join(surv, ["h", "n_docs"]).count()
        n_after = back.count()
        decrement_match = (n_after == n_surv) and (n_match == n_surv)

        return spark.createDataFrame(
            [(
                n_before,
                n_after,
                n_before - n_after,
                1 if decrement_match else 0,
                1 if replay_noop else 0,
            )],
            "n_hashes_before bigint, n_hashes_after bigint, n_hashes_removed bigint,"
            " decrement_match int, replay_noop int",
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@register(
    "dedup_incremental_simhash",
    tags=("dedup", "text", "simhash", "incremental", "tablestore"),
    # Completes the incremental-ingest family across all four dedup
    # flavors (exact: dedup_incremental, banded MinHash:
    # dedup_incremental_lsh, ExactSubstr census:
    # text_span_excision_incremental, and now SimHash): the ingested
    # corpus' PIGEONHOLE BLOCK rows (doc, simhash, blk, blk_val) are the
    # persisted index — distance <= 3 over 4 blocks guarantees >= 1
    # identical block, so a new batch finds every qualifying pair with
    # one equi-join against the store plus its own within-batch join,
    # then verifies exact Hamming on candidates only. Signatures are
    # per-doc, so the split provably changes nothing about which pairs
    # block together; the oracle is the brute-force signature recompute
    # restricted to pairs touching the batch. index_merge_match
    # certifies the appended store, read back, equals a from-scratch
    # banding of the union.
    oracle=(
        "SELECT id_a, id_b, hamming, CAST(1 AS INT) AS index_merge_match FROM ("
        + _SIMHASH_ORACLE
        + ") WHERE id_a % 3 = 0 OR id_b % 3 = 0 ORDER BY id_a, id_b"
    ),
)
def dedup_incremental_simhash(spark, sf_dir):
    """Incremental SimHash near-dup — the ingest posture for the
    Hamming-ball dedup tier: history exists only as its block-key index
    (a TackleTable of (doc_id, simhash, blk, blk_val) rows); the new
    batch (doc_id % 3 == 0) signs once, probes the store and itself on
    (blk, blk_val), exact-verifies bit_count(xor) <= 3 on candidates,
    and appends its own block rows for the next batch. Cost per batch
    ∝ batch size + bucket collisions; history text is never re-read at
    all (the signature index is self-sufficient for the verify — unlike
    MinHash, SimHash's exact check needs only the stored 64-bit
    signatures). Store append read-back certified against from-scratch
    banding of the union."""
    import os
    import tempfile

    from lakehouse_tacklebox_spark.tablestore.table import TackleTable

    d = _spread(load_tables(spark, sf_dir, ["documents"])["documents"])
    sims = D.simhash(
        d.select("doc_id", "text"), "doc_id", "text",
        bits=_SIMHASH_BITS, token_hash=D.md5_hash60,
    ).localCheckpoint(eager=True)

    blocks, width = 4, 64 // 4
    block_cols = F.array(
        *[
            F.shiftrightunsigned(F.col("simhash"), i * width).bitwiseAND(
                F.lit((1 << width) - 1)
            )
            for i in range(blocks)
        ]
    )
    banded = sims.select(
        "doc_id", "simhash", F.posexplode(block_cols).alias("blk", "blk_val")
    )
    banded_exist = banded.filter(F.col("doc_id") % 3 != 0)
    banded_inc = banded.filter(F.col("doc_id") % 3 == 0).localCheckpoint(eager=True)

    tmp = tempfile.mkdtemp(prefix="simhashidx_")
    store = TackleTable.create(spark, os.path.join(tmp, "idx"), banded_exist)

    stored = store.read()  # the batch only ever sees the STORE
    cross = (
        banded_inc.select(
            F.col("doc_id").alias("inc_id"),
            F.col("simhash").alias("sh_inc"),
            "blk",
            "blk_val",
        )
        .join(
            stored.select(
                F.col("doc_id").alias("ex_id"),
                F.col("simhash").alias("sh_ex"),
                "blk",
                "blk_val",
            ),
            ["blk", "blk_val"],
        )
        .select(
            F.least("inc_id", "ex_id").alias("id_a"),
            F.greatest("inc_id", "ex_id").alias("id_b"),
            F.bit_count(F.col("sh_inc").bitwiseXOR(F.col("sh_ex"))).alias("hamming"),
        )
    )
    a = banded_inc.select(
        F.col("doc_id").alias("id_a"), F.col("simhash").alias("sh_a"), "blk", "blk_val"
    )
    b = banded_inc.select(
        F.col("doc_id").alias("id_b"), F.col("simhash").alias("sh_b"), "blk", "blk_val"
    )
    within = (
        a.join(b, ["blk", "blk_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"),
        )
    )
    pairs = (
        cross.unionByName(within)
        .filter(F.col("hamming") <= 3)
        .distinct()
    )

    # maintenance: append the batch's block rows, certify read-back
    store.append(banded_inc, txn=("simhash_index_append", 1))
    back = TackleTable(spark, os.path.join(tmp, "idx")).read()
    n_full = banded.count()
    n_match = back.join(banded, ["doc_id", "simhash", "blk", "blk_val"]).count()
    merge_ok = (back.count() == n_full) and (n_match == n_full)

    return (
        pairs.select(
            "id_a",
            "id_b",
            F.col("hamming").cast("int").alias("hamming"),
        )
        .withColumn("index_merge_match", F.lit(1 if merge_ok else 0).cast("int"))
        .orderBy("id_a", "id_b")
    )


_WP_VOCAB = 50      # multi-char pieces kept (top by weight; singles always in)
_WP_MAXLEN = 6      # longest candidate piece
_WP_TOP = 30        # output census rows


@register(
    "text_wordpiece_segment",
    bench=True,
    tags=("text", "tokenizer", "llm"),
    # WordPiece-style greedy segmentation (Schuster & Nakajima 2012; the
    # BERT tokenizer's apply rule): walk each word left-to-right, always
    # consuming the LONGEST vocab piece that matches at the cursor. The
    # vocab is corpus-derived and deterministic — every substring of
    # length 2..6 of the distinct-word inventory, weighted by corpus
    # occurrences of its containing words (one weight per start
    # position), top-50 by (weight DESC, piece ASC) — plus every single
    # character, so segmentation is total and no UNK is needed. The cut
    # at 50 is load-bearing: 235 multi-char pieces exist at the gate
    # scales, so greedy genuinely falls back to shorter pieces where a
    # long one missed the cut. The oracle replays the walk with a
    # RECURSIVE CTE whose longest-match rule is a correlated NOT EXISTS
    # (no window/agg in the recursive term), then rebuilds the same
    # weighted census — segmentation is integer/string-only, so the
    # replay is exact.
    oracle=f"""
    WITH RECURSIVE tok AS MATERIALIZED (
        SELECT w FROM (
            SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
            FROM documents
        ) WHERE regexp_matches(w, '^[a-z]+$') AND length(w) >= 2
    ), words AS MATERIALIZED (
        SELECT w AS word, CAST(count(*) AS BIGINT) AS wc FROM tok GROUP BY 1
    ), multi AS MATERIALIZED (
        SELECT piece, l FROM (
            SELECT piece, l, row_number() OVER (ORDER BY wt DESC, piece) AS rk
            FROM (
                SELECT substr(word, CAST(i AS INT), CAST(l AS INT)) AS piece,
                       CAST(l AS INT) AS l, CAST(sum(wc) AS BIGINT) AS wt
                FROM words,
                     unnest(range(1, len(word) + 1)) AS t(i),
                     unnest(range(2, {_WP_MAXLEN + 1})) AS u(l)
                WHERE i + l - 1 <= len(word)
                GROUP BY 1, 2
            )
        ) WHERE rk <= {_WP_VOCAB}
    ), vocab AS MATERIALIZED (
        SELECT piece, l FROM multi
        UNION
        SELECT DISTINCT substr(word, CAST(i AS INT), 1) AS piece, 1 AS l
        FROM words, unnest(range(1, len(word) + 1)) AS t(i)
    ), seg(word, pos, piece) AS (
        SELECT w.word, v.l, v.piece
        FROM words w JOIN vocab v
          ON v.piece = substr(w.word, 1, v.l)
        WHERE NOT EXISTS (
            SELECT 1 FROM vocab v2
            WHERE v2.l > v.l AND v2.piece = substr(w.word, 1, v2.l))
        UNION ALL
        SELECT s.word, s.pos + v.l, v.piece
        FROM seg s JOIN vocab v
          ON v.piece = substr(s.word, s.pos + 1, v.l)
        WHERE s.pos < len(s.word)
          AND NOT EXISTS (
            SELECT 1 FROM vocab v2
            WHERE v2.l > v.l AND v2.piece = substr(s.word, s.pos + 1, v2.l))
    )
    SELECT piece, n_uses, n_words, CAST(rank AS BIGINT) AS rank
    FROM (
        SELECT piece, n_uses, n_words,
               row_number() OVER (ORDER BY n_uses DESC, piece) AS rank
        FROM (
            SELECT s.piece,
                   CAST(sum(w.wc) AS BIGINT) AS n_uses,
                   CAST(count(DISTINCT s.word) AS BIGINT) AS n_words
            FROM seg s JOIN words w USING (word)
            GROUP BY 1
        )
    ) WHERE rank <= {_WP_TOP}
    ORDER BY rank
    """,
)
def text_wordpiece_segment(spark, sf_dir):
    """WordPiece apply: greedy longest-match-first segmentation of every
    corpus word against a corpus-derived piece vocabulary, reported as
    the weighted piece-usage census (top-30 by uses) — the second
    tokenizer family next to BPE train/apply (merge-rule tokenizers and
    longest-match tokenizers are the two apply rules in production use;
    BERT-style stacks run this one).

    Scale shape: segmentation runs over the DISTINCT-WORD inventory,
    never the corpus — the corpus is touched exactly once for the word
    census (map-side combining groupBy), after which everything joins a
    words-sized frame (30 rows at gate scales; ~millions at 100 TB,
    still thousands of times smaller than the corpus) against a
    broadcast 76-piece vocab. The longest match for EVERY (word, pos)
    is one equi-join on the substring (no theta join), and the
    sequential greedy walk runs entirely JVM-side: one higher-order
    aggregate() over each word's own best-match array, bounded by word
    length — no driver loop, no UDF, one job. Weighted census = one
    broadcast join back to word counts. Every value is a string or
    BIGINT: the
    DuckDB recursive-CTE replay is exact, including the vocab top-50
    boundary (tie-broken piece ASC) and both census rankings."""
    d = load_tables(spark, sf_dir, ["documents"])["documents"]

    toks = F.expr(
        "filter(split(lower(trim(text)), '\\\\s+'),"
        " x -> x RLIKE '^[a-z]+$' AND length(x) >= 2)"
    )
    words = (
        d.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("wc"))
        .localCheckpoint(eager=True)
    )

    # candidate pieces: every (start, len 2..6) substring of the
    # distinct-word inventory, weighted by containing-word counts
    lens = F.explode(F.sequence(F.lit(2), F.lit(_WP_MAXLEN))).alias("l")
    starts = F.explode(F.sequence(F.lit(1), F.length("word"))).alias("i")
    multi = (
        words.select("word", "wc", starts)
        .select("word", "wc", "i", lens)
        .filter(F.col("i") + F.col("l") - 1 <= F.length("word"))
        .select(
            F.expr("substring(word, i, l)").alias("piece"),
            F.col("l").cast("int").alias("l"),
            "wc",
        )
        .groupBy("piece", "l")
        .agg(F.sum("wc").cast("bigint").alias("wt"))
        .withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy().orderBy(F.col("wt").desc(), "piece")
            ),
        )
        .filter(F.col("rk") <= _WP_VOCAB)
        .select("piece", "l")
    )
    singles = (
        words.select(F.explode(F.split("word", "")).alias("piece"))
        .filter(F.length("piece") == 1)
        .distinct()
        .select("piece", F.lit(1).cast("int").alias("l"))
    )
    vocab = multi.unionByName(singles).distinct().localCheckpoint(eager=True)

    # greedy longest-match for EVERY (word, pos) in one shot, then the
    # sequential walk runs JVM-side inside one higher-order aggregate()
    # over each word's own best-match array — no driver loop, one job
    cand = (
        words.select("word", F.explode(F.sequence(F.lit(0), F.length("word") - 1)).alias("pos"))
        .select("word", "pos", F.explode(F.sequence(F.lit(1), F.lit(_WP_MAXLEN))).alias("l"))
        .filter(F.col("pos") + F.col("l") <= F.length("word"))
        .select("word", "pos", "l", F.expr("substring(word, pos + 1, l)").alias("piece"))
    )
    wbest = W.partitionBy("word", "pos").orderBy(F.col("l").desc())
    best = (
        cand.join(F.broadcast(vocab), ["piece", "l"])
        .withColumn("rk", F.row_number().over(wbest))
        .filter(F.col("rk") == 1)
    )
    # bl, sorted by pos, indexes 0-based: bl[pos] = the longest piece
    # matching at 0-based pos (every pos matches: singles are in the vocab)
    walked = (
        best.groupBy("word")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "l", "piece"))
            ).alias("bl")
        )
        .withColumn(
            "pieces",
            F.expr(
                """aggregate(
                     sequence(1, length(word)),
                     struct(CAST(0 AS INT) AS pos, CAST(array() AS ARRAY<STRING>) AS ps),
                     (st, _) -> IF(st.pos >= length(word), st,
                        struct(CAST(st.pos + bl[st.pos].l AS INT) AS pos,
                               array_append(st.ps, bl[st.pos].piece) AS ps)),
                     st -> st.ps)"""
            ),
        )
        .select("word", F.explode("pieces").alias("piece"))
    )

    census = (
        walked.join(F.broadcast(words), "word")
        .groupBy("piece")
        .agg(
            F.sum("wc").cast("bigint").alias("n_uses"),
            F.count_distinct("word").cast("bigint").alias("n_words"),
        )
        .withColumn(
            "rank",
            F.row_number()
            .over(W.partitionBy().orderBy(F.col("n_uses").desc(), "piece"))
            .cast("bigint"),
        )
        .filter(F.col("rank") <= _WP_TOP)
        .orderBy("rank")
    )
    return census.select("piece", "n_uses", "n_words", "rank")


@register(
    "dedup_incremental_containment",
    tags=("dedup", "text", "containment", "incremental", "tablestore"),
    # The DIRECTED flavor joins the incremental-ingest family (exact /
    # MinHash-LSH / SimHash already have entries): history exists only
    # as its persisted containment index — a full-postings table plus
    # the per-doc rarest-first hash arrays with their frozen prefix
    # lengths. Soundness under growth is the point worth writing down:
    # prefix filtering's pigeonhole argument (|prefix| + ceil(t*sz) =
    # sz + 1 > sz) holds for ANY (sz - ceil(t*sz) + 1)-subset, so the
    # rarest-first order frozen at ingest time stays a VALID prefix
    # forever — df drift degrades pruning efficiency only, never
    # recall. No max_doc_freq cap here (the cap's drops depend on
    # global df, which WOULD make incremental diverge from full
    # recompute). The oracle is exact directed containment over the
    # same augmented corpus restricted to batch-touching pairs.
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
        FROM documents
    ),
    aug AS (
        SELECT doc_id, w FROM t
        UNION ALL
        SELECT doc_id + 10000, w[1:25] FROM t WHERE len(w) >= 40
    ),
    sh AS (
        SELECT DISTINCT doc_id, g FROM (
            SELECT doc_id,
                   unnest(list_transform(range(3, len(w) + 1),
                                         i -> w[i-2] || ' ' || w[i-1] || ' ' || w[i])) AS g
            FROM aug WHERE len(w) >= 3) x
    ),
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY 1),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS inter
        FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id <> b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b, inter, sa.sz AS sz_a,
           inter * 1000000 // sa.sz AS containment_ppm,
           CAST(1 AS INT) AS index_merge_match
    FROM inter JOIN sizes sa ON sa.doc_id = id_a
    WHERE inter * 1000000 // sa.sz >= 900000
      AND (id_a % 3 = 0 OR id_b % 3 = 0)
    ORDER BY id_a, id_b
    """,
)
def dedup_incremental_containment(spark, sf_dir):
    """Incremental subset-duplicate ingest — dedup_containment's 100 TB
    posture: the ingested corpus (doc_id % 3 != 0 over the augmented id
    space) is represented ONLY by its persisted index (full postings +
    per-doc ordered hash arrays with frozen prefix lengths); the new
    batch shingles itself once and generates candidates with THREE
    prefix-filtered equi-joins — batch prefixes x store postings
    (batch-contained-in-history), stored prefixes x batch postings
    (history-contained-in-batch; the stored rarest-first order stays a
    valid prefix under df drift — see register note), and batch
    prefixes x batch postings (within-batch). Exact verify touches only
    the STORED arrays of matched docs; history text is never re-read,
    never re-shingled. Maintenance appends the batch's postings and
    arrays, read-back-certified against a from-scratch index of the
    union (postings row-set equality; arrays compared as content SETS,
    since prefix order is a performance choice, not a semantic one)."""
    import os
    import tempfile

    from lakehouse_tacklebox_spark.operators.dedup import _containment_docs
    from lakehouse_tacklebox_spark.tablestore.table import TackleTable

    d = _spread(load_tables(spark, sf_dir, ["documents"])["documents"])
    toks = F.split(F.lower(F.trim("text")), r"\s+")
    base = d.select("doc_id", toks.alias("w"))
    chunks = base.filter(F.size("w") >= 40).select(
        (F.col("doc_id") + 10000).alias("doc_id"), F.slice("w", 1, 25).alias("w")
    )
    aug = base.unionByName(chunks)
    grams = F.expr(
        "CASE WHEN size(w) >= 3 THEN transform(sequence(3, size(w)), "
        "i -> concat_ws(' ', w[i-3], w[i-2], w[i-1])) "
        "ELSE CAST(array() AS array<string>) END"
    )
    shingled = aug.select("doc_id", grams.alias("grams")).persist()

    T = 900000
    docs_ex, post_ex = _containment_docs(
        shingled.filter(F.col("doc_id") % 3 != 0), "doc_id", "grams", T, None
    )
    docs_inc, post_inc = _containment_docs(
        shingled.filter(F.col("doc_id") % 3 == 0), "doc_id", "grams", T, None
    )
    docs_inc = docs_inc.localCheckpoint(eager=True)
    post_inc = post_inc.localCheckpoint(eager=True)

    tmp = tempfile.mkdtemp(prefix="containidx_")
    store_post = TackleTable.create(spark, os.path.join(tmp, "post"), post_ex)
    store_docs = TackleTable.create(spark, os.path.join(tmp, "docs"), docs_ex)
    sp = store_post.read()  # the batch only ever sees the stores
    sd = store_docs.read()

    def prefixes(docs):
        return docs.select(
            F.col("doc_id").alias("id_a"),
            F.explode(F.expr("slice(arr, 1, greatest(prefix_len, 0))")).alias("sh"),
        )

    pre_inc = prefixes(docs_inc)
    pre_ex = prefixes(sd)
    post_inc_b = post_inc.select(F.col("doc_id").alias("id_b"), "sh")
    sp_b = sp.select(F.col("doc_id").alias("id_b"), "sh")
    cand = (
        pre_inc.join(sp_b, "sh").select("id_a", "id_b")
        .unionByName(pre_ex.join(post_inc_b, "sh").select("id_a", "id_b"))
        .unionByName(
            pre_inc.join(post_inc_b, "sh")
            .filter(F.col("id_a") != F.col("id_b"))
            .select("id_a", "id_b")
        )
        .distinct()
    )

    arrays = docs_inc.select("doc_id", "arr", "sz").unionByName(
        sd.select("doc_id", "arr", "sz")
    )
    a = arrays.select(
        F.col("doc_id").alias("id_a"),
        F.col("arr").alias("__sa"),
        F.col("sz").cast("bigint").alias("sz_a"),
    )
    b = arrays.select(F.col("doc_id").alias("id_b"), F.col("arr").alias("__sb"))
    verified = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("inter", F.size(F.array_intersect("__sa", "__sb")).cast("bigint"))
        .withColumn(
            "containment_ppm",
            F.expr("CAST((inter * CAST(1000000 AS BIGINT)) div sz_a AS BIGINT)"),
        )
        .filter(F.col("containment_ppm") >= T)
        .select("id_a", "id_b", "inter", "sz_a", "containment_ppm")
    )

    # maintenance: append the batch's postings + arrays, certify the
    # read-back against a from-scratch index of the full corpus
    store_post.append(post_inc, txn=("containment_post_append", 1))
    store_docs.append(docs_inc, txn=("containment_docs_append", 1))
    back_post = TackleTable(spark, os.path.join(tmp, "post")).read()
    back_docs = TackleTable(spark, os.path.join(tmp, "docs")).read()
    full_docs, full_post = _containment_docs(shingled, "doc_id", "grams", T, None)

    # Order-invariant row-set signature instead of the former full
    # equi-join: one map-side-combined aggregate pass per table, no
    # shuffle of the full postings row set (VERDICT r10 item 8). Now the
    # shared 4-fold helper (count/xor/sum/sum-of-squares,
    # operators/signature.py) so a lost, drifted, or double-applied row
    # must defeat THREE independent hash folds plus the count to slip
    # through (ADVICE r11). The full row-set equality remains pinned at
    # sf0.001 by tests/test_incremental_containment.py.
    from lakehouse_tacklebox_spark.operators.signature import rowset_signature

    post_cols = ["doc_id", "sh"]
    docs_cols = lambda: ["doc_id", F.array_sort("arr"), "sz", "prefix_len"]
    post_ok = rowset_signature(back_post, post_cols) == rowset_signature(full_post, post_cols)
    docs_ok = rowset_signature(back_docs, docs_cols()) == rowset_signature(full_docs, docs_cols())
    merge_ok = post_ok and docs_ok

    return (
        verified.withColumn(
            "index_merge_match", F.lit(1 if merge_ok else 0).cast("int")
        )
        .orderBy("id_a", "id_b")
    )


_UG_BIG = 1_000_000_000_000  # per-piece penalty >> any corpus weight sum


@register(
    "text_unigram_segment",
    tags=("text", "tokenizer", "llm"),
    # The THIRD tokenizer apply rule: global max-score segmentation
    # (the SentencePiece-unigram Viterbi shape) over the SAME
    # corpus-derived vocab as text_wordpiece_segment, so the two
    # entries differ only in the rule — greedy longest-match vs global
    # optimum. (On a weight-RANKED vocab the two piece counts provably
    # coincide — such a vocab is factor-closed, where greedy is
    # count-optimal; the DP's power appears on pruned/learned vocabs
    # that break closure, and here its value is the exact weight and
    # tie-break refinement — tests/test_wordpiece.py records the
    # exchange argument.) The unigram log-prob objective is
    # integerized as the
    # lexicographic pair (fewest pieces, then max summed census
    # weight), encoded in one BIGINT: score(parse) = -1e12 * n_pieces
    # + sum(weight) — exact, no float log. Ties break canonically by
    # the reverse piece-length sequence (longest last piece, then
    # recursively), which is exactly what the DP's prefer-longer-l
    # cell rule produces. The oracle does NOT replay the DP: it
    # ENUMERATES every parse (words are <= 8 chars at the gate scales,
    # so <= 2^7 cut masks per word), scores them all, and picks the
    # same (score DESC, reverse-lengths DESC) argmax — an independent
    # exhaustive check that the DP finds the true global optimum.
    oracle=f"""
    WITH tok AS MATERIALIZED (
        SELECT w FROM (
            SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
            FROM documents
        ) WHERE regexp_matches(w, '^[a-z]+$') AND length(w) >= 2
    ), words AS MATERIALIZED (
        SELECT w AS word, CAST(count(*) AS BIGINT) AS wc FROM tok GROUP BY 1
    ), pw AS MATERIALIZED (
        SELECT substr(word, CAST(i AS INT), CAST(l AS INT)) AS piece,
               CAST(l AS INT) AS l, CAST(sum(wc) AS BIGINT) AS wt
        FROM words,
             unnest(range(1, len(word) + 1)) AS t(i),
             unnest(range(1, {_WP_MAXLEN + 1})) AS u(l)
        WHERE i + l - 1 <= len(word)
        GROUP BY 1, 2
    ), vocab AS MATERIALIZED (
        SELECT piece, wt FROM (
            SELECT piece, wt, row_number() OVER (ORDER BY wt DESC, piece) AS rk
            FROM pw WHERE l >= 2
        ) WHERE rk <= {_WP_VOCAB}
        UNION ALL
        SELECT piece, wt FROM pw WHERE l = 1
    ), parses AS MATERIALIZED (
        SELECT word, wc, m,
               list_concat(
                   list_filter(range(1, len(word)),
                               i -> ((m >> CAST(i - 1 AS INT)) & 1) = 1),
                   [CAST(len(word) AS BIGINT)]) AS cuts
        FROM words, unnest(range(0, 1 << (len(word) - 1))) AS mm(m)
    ), pl AS MATERIALIZED (
        SELECT word, wc, m, k,
               CASE WHEN k = 1 THEN word[1:CAST(cuts[1] AS INT)]
                    ELSE word[CAST(cuts[k-1] + 1 AS INT):CAST(cuts[k] AS INT)]
               END AS piece
        FROM parses, unnest(range(1, len(cuts) + 1)) AS t(k)
    ), scored AS MATERIALIZED (
        SELECT pl.word, pl.wc, pl.m,
               CAST(-{_UG_BIG} AS BIGINT) * count(*) + sum(v.wt) AS score,
               list(length(pl.piece) ORDER BY pl.k DESC) AS rev_lens
        FROM pl LEFT JOIN vocab v ON v.piece = pl.piece
        GROUP BY 1, 2, 3
        HAVING bool_and(v.piece IS NOT NULL)
    ), best AS MATERIALIZED (
        SELECT word, wc, m FROM (
            SELECT *, row_number() OVER (PARTITION BY word
                       ORDER BY score DESC, rev_lens DESC) AS rk
            FROM scored
        ) WHERE rk = 1
    ), used AS (
        SELECT pl.word, pl.wc, pl.piece
        FROM pl JOIN best USING (word, m)
    )
    SELECT piece, n_uses, n_words, CAST(rank AS BIGINT) AS rank
    FROM (
        SELECT piece, n_uses, n_words,
               row_number() OVER (ORDER BY n_uses DESC, piece) AS rank
        FROM (
            SELECT piece, CAST(sum(wc) AS BIGINT) AS n_uses,
                   CAST(count(DISTINCT word) AS BIGINT) AS n_words
            FROM used GROUP BY 1
        )
    ) WHERE rank <= {_WP_TOP}
    ORDER BY rank
    """,
)
def text_unigram_segment(spark, sf_dir):
    """Unigram-style GLOBAL max-score segmentation (Viterbi DP) over
    the same corpus-derived vocab as text_wordpiece_segment: each word
    is parsed into the segmentation minimizing piece count and, among
    those, maximizing summed census weight (one BIGINT objective,
    -1e12 per piece + weights), reported as the same weighted piece
    census — so the greedy-vs-global difference between the two apply
    rules is directly readable from the two entries' outputs.

    The DP runs entirely JVM-side with no driver loop: per distinct
    word, one candidates equi-join tags every (pos, len) whose
    substring is in the broadcast vocab with its weight, then a single
    higher-order aggregate() folds positions 1..len(word), each step
    maximizing (score, piece-length) over the <= 6 incoming
    transitions read from a per-word candidate MAP — and a second
    aggregate walks the stored backpointers to emit the canonical
    parse. Cost is distinct-word-inventory-sized: the corpus is
    scanned once for the word census, exactly as the WordPiece entry.
    The oracle independently ENUMERATES all <= 2^7 parses per word and
    must land on the identical argmax — the DP is checked against
    exhaustive search, not against a replay of itself."""
    d = load_tables(spark, sf_dir, ["documents"])["documents"]

    toks = F.expr(
        "filter(split(lower(trim(text)), '\\\\s+'),"
        " x -> x RLIKE '^[a-z]+$' AND length(x) >= 2)"
    )
    words = (
        d.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("wc"))
        .localCheckpoint(eager=True)
    )

    # weighted piece census, lengths 1..6; multi-char cut at top-50
    lens = F.explode(F.sequence(F.lit(1), F.lit(_WP_MAXLEN))).alias("l")
    starts = F.explode(F.sequence(F.lit(1), F.length("word"))).alias("i")
    pw = (
        words.select("word", "wc", starts)
        .select("word", "wc", "i", lens)
        .filter(F.col("i") + F.col("l") - 1 <= F.length("word"))
        .select(
            F.expr("substring(word, i, l)").alias("piece"),
            F.col("l").cast("int").alias("l"),
            "wc",
        )
        .groupBy("piece", "l")
        .agg(F.sum("wc").cast("bigint").alias("wt"))
    )
    multi = (
        pw.filter(F.col("l") >= 2)
        .withColumn(
            "rk",
            F.row_number().over(W.partitionBy().orderBy(F.col("wt").desc(), "piece")),
        )
        .filter(F.col("rk") <= _WP_VOCAB)
        .select("piece", "l", "wt")
    )
    vocab = (
        multi.unionByName(pw.filter(F.col("l") == 1).select("piece", "l", "wt"))
        .localCheckpoint(eager=True)
    )

    # candidate map per word: (pos0 * 10 + len) -> weight
    cand = (
        words.select("word", F.explode(F.sequence(F.lit(0), F.length("word") - 1)).alias("pos"))
        .select("word", "pos", F.explode(F.sequence(F.lit(1), F.lit(_WP_MAXLEN))).alias("l"))
        .filter(F.col("pos") + F.col("l") <= F.length("word"))
        .select("word", "pos", "l", F.expr("substring(word, pos + 1, l)").alias("piece"))
        .join(F.broadcast(vocab), ["piece", "l"])
    )
    cmapped = cand.groupBy("word").agg(
        F.map_from_entries(
            F.collect_list(F.expr("struct(pos * 10 + l AS k, wt AS v)"))
        ).alias("cmap")
    )

    big = _UG_BIG
    dp_expr = f"""aggregate(
        sequence(1, length(word)),
        array(struct(CAST(0 AS BIGINT) AS sc, CAST(0 AS INT) AS l)),
        (acc, i) -> array_append(acc,
            aggregate(sequence(1, least({_WP_MAXLEN}, i)),
                struct(CAST(-{big} AS BIGINT) * 1000 AS sc, CAST(0 AS INT) AS l),
                (b, l) -> IF(cmap[(i - l) * 10 + l] IS NOT NULL
                             AND element_at(acc, i - l + 1).sc
                                 + cmap[(i - l) * 10 + l]
                                 - CAST({big} AS BIGINT) >= b.sc,
                             struct(element_at(acc, i - l + 1).sc
                                    + cmap[(i - l) * 10 + l]
                                    - CAST({big} AS BIGINT) AS sc,
                                    CAST(l AS INT) AS l),
                             b))),
        acc -> acc)"""
    walk_expr = """aggregate(
        sequence(1, length(word)),
        struct(CAST(length(word) AS INT) AS pos, CAST(array() AS ARRAY<STRING>) AS ps),
        (st, _) -> IF(st.pos <= 0, st,
            struct(CAST(st.pos - element_at(dp, st.pos + 1).l AS INT) AS pos,
                   concat(array(substring(word,
                                st.pos - element_at(dp, st.pos + 1).l + 1,
                                element_at(dp, st.pos + 1).l)), st.ps) AS ps)),
        st -> st.ps)"""
    parsed = (
        words.join(cmapped, "word")
        .withColumn("dp", F.expr(dp_expr))
        .withColumn("pieces", F.expr(walk_expr))
        .select("word", "wc", F.explode("pieces").alias("piece"))
    )

    return (
        parsed.groupBy("piece")
        .agg(
            F.sum("wc").cast("bigint").alias("n_uses"),
            F.count_distinct("word").cast("bigint").alias("n_words"),
        )
        .withColumn(
            "rank",
            F.row_number()
            .over(W.partitionBy().orderBy(F.col("n_uses").desc(), "piece"))
            .cast("bigint"),
        )
        .filter(F.col("rank") <= _WP_TOP)
        .orderBy("rank")
        .select("piece", "n_uses", "n_words", "rank")
    )


@register(
    "text_pmi_collocations",
    tags=("text", "lm", "collocation"),
    bench=True,
    # Collocation mining: the top-20 adjacent word pairs by integer
    # association lift — the PMI ranking (Church & Hanks, CL'90) with
    # the log dropped (log is monotone, so the ordering is PMI's) and
    # the probability ratio staged as an exact bigint program both
    # engines replicate digit-for-digit: ((c_ab*1e6 DIV c_a) * n_big)
    # DIV c_b. Staging keeps every intermediate <= 1e6 * n_bigrams
    # (the first DIV is <= 1e6 since c_a >= c_ab), so no int64
    # overflow at any corpus size. min-count 5 drops hapax pairs, the
    # standard PMI noise guard. Training-pipeline use: phrase/merge
    # candidate discovery for tokenizer vocabularies and boilerplate
    # phrase detection.
    oracle="""
    WITH t AS (
        SELECT string_split_regex(lower(trim(text)), '\\s+') AS w
        FROM documents
    ),
    u AS (SELECT unnest(w) AS tok FROM t),
    uc AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM u GROUP BY tok),
    b AS (
        SELECT unnest(list_transform(range(2, len(w) + 1), i -> [w[i-1], w[i]])) AS pr
        FROM t WHERE len(w) >= 2
    ),
    bc AS (
        SELECT pr[1] AS w1, pr[2] AS w2, CAST(count(*) AS BIGINT) AS c_ab
        FROM b GROUP BY 1, 2
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_big FROM b)
    SELECT w1, w2, c_ab, c1, c2, lift_ppm FROM (
        SELECT bc.w1, bc.w2, bc.c_ab, a.c AS c1, z.c AS c2,
               (((bc.c_ab * CAST(1000000 AS BIGINT)) // a.c) * n.n_big) // z.c AS lift_ppm
        FROM bc
        JOIN uc a ON bc.w1 = a.tok
        JOIN uc z ON bc.w2 = z.tok
        CROSS JOIN n
        WHERE bc.c_ab >= 5
    ) ORDER BY lift_ppm DESC, w1, w2 LIMIT 20
    """,
)
def text_pmi_collocations(spark, sf_dir):
    """Top-20 collocations by integer PMI lift over adjacent-word
    bigrams. Two partial-agg census shuffles (unigram + bigram counts),
    a census-to-census join on the token key, one broadcast scalar
    (total bigram instances), then a min-count-pruned global top-k —
    the same explode-census shape as text_bigram_commonness, so the
    100 TB plan is census-bounded with no pair materialization beyond
    observed adjacent bigrams."""
    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    toks = F.split(F.lower(F.trim("text")), r"\s+")
    docs = _spread(d.select(toks.alias("w")))
    u = docs.select(F.explode("w").alias("tok"))
    uc = u.groupBy("tok").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    b = docs.filter(F.size("w") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(2, size(w)), i -> struct(w[i-2] AS w1, w[i-1] AS w2))"
            )
        ).alias("pr")
    ).select("pr.w1", "pr.w2")
    bc = b.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("bigint").alias("c_ab"))
    n_big = b.agg(F.count(F.lit(1)).cast("bigint").alias("n_big"))
    return (
        bc.filter(F.col("c_ab") >= 5)
        .join(uc.select(F.col("tok").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(uc.select(F.col("tok").alias("w2"), F.col("c").alias("c2")), "w2")
        .crossJoin(F.broadcast(n_big))
        .select(
            "w1",
            "w2",
            "c_ab",
            "c1",
            "c2",
            F.expr(
                "(((c_ab * CAST(1000000 AS BIGINT)) DIV c1) * n_big) DIV c2"
            ).alias("lift_ppm"),
        )
        .orderBy(F.col("lift_ppm").desc(), "w1", "w2")
        .limit(20)
    )
