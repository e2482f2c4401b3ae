"""Training-data-pipeline operators as first-class queries (driver contract).

Deduplication (exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding
near-dup), similarity search (brute-force cosine top-k + LSH-bucketed ANN),
text analysis (lang-id, quality, token stats, fingerprinting), multimodal
binary plumbing — over the driver-provided `documents` and `embeddings`
tables (TESTDATA.md).

SQL-expressible ops carry DuckDB oracles; hash-family ops (xxhash64-based
LSH/SimHash) are rows-only by design (the driver records the weaker check).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ocds_entity_extract_spark.functions.text import collapse_ws, simple_name
from ocds_entity_extract_spark.queries import (
    ORACLE_SQL,
    SPARK_QUERIES,
    TS_FMT_SPARK,
    _t,
    query,
)


# vector helpers live in functions/vectors.py (imported by similarity.py
# too — keeping them there avoids a circular import with the LSH oracle)
from ocds_entity_extract_spark.functions.vectors import cosine, dot, norm  # noqa: E402,F401


# =====================================================================
# deduplication
# =====================================================================

@query(
    "dedup_exact",
    """
    SELECT CAST(count(*) AS BIGINT) AS total_docs,
           CAST(count(DISTINCT md5(text)) AS BIGINT) AS distinct_texts,
           CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT) AS exact_dups
    FROM documents
    """,
)
def q_dedup_exact(spark, sf_dir):
    """Exact dedup via content hash (groupBy(md5) ≙ A1 identity dedup)."""
    d = _t(spark, sf_dir, "documents")
    return d.agg(
        F.count(F.lit(1)).alias("total_docs"),
        F.countDistinct(F.md5("text")).cast("bigint").alias("distinct_texts"),
        (F.count(F.lit(1)) - F.countDistinct(F.md5("text")))
        .cast("bigint")
        .alias("exact_dups"),
    )


@query(
    "dedup_near_embedding",
    """
    SELECT a.label,
           count(*) AS n_near_pairs
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.embedding, b.embedding), 3) >= 0.45
    GROUP BY a.label
    """,
)
def q_dedup_near_embedding(spark, sf_dir):
    """Embedding-cosine near-dup: label-blocked self-join (blocking bounds
    the pair count — the 100 TB version blocks on LSH buckets instead)."""
    e = _t(spark, sf_dir, "embeddings")
    a = e.select(
        F.col("label"), F.col("vec_id").alias("vid_a"), F.col("embedding").alias("va")
    )
    b = e.select(
        F.col("label"), F.col("vec_id").alias("vid_b"), F.col("embedding").alias("vb")
    )
    return (
        a.join(b, "label")
        .filter(F.col("vid_a") < F.col("vid_b"))
        .filter(F.round(cosine(F.col("va"), F.col("vb")), 3) >= 0.45)
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_near_pairs"))
    )


def _minhash_sig_ctes(
    src_cte: str, num_hashes: int, band_size: int
) -> tuple[str, str]:
    """Shared DuckDB CTE text for the portable minhash family: expects a
    CTE `{src_cte}` with (id, shingles list<varchar>); emits `hsh` (hashed
    shingle lists) and `sig` (the K affine minhashes). Constants are the
    SAME seeded literals the Spark plan bakes in (functions/phash)."""
    from ocds_entity_extract_spark.functions.phash import (
        MERSENNE_P as P,
        minhash_params,
    )

    mh = ",\n             ".join(
        f"list_min([({a} * (h % {P}) + {b}) % {P} for h in hs]) AS mh{i}"
        for i, (a, b) in enumerate(minhash_params(num_hashes))
    )
    ctes = f"""
      hsh AS (
        SELECT id, [CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)
                    for s in shingles] AS hs
        FROM {src_cte}
      ),
      sig AS (
        SELECT id,
             {mh}
        FROM hsh
      )"""
    n_bands = num_hashes // band_size
    band_selects = "\n        UNION ALL ".join(
        f"SELECT id, {b} AS band_id, "
        + " || ',' || ".join(
            f"CAST(mh{b * band_size + j} AS VARCHAR)" for j in range(band_size)
        )
        + " AS band_hash FROM sig"
        for b in range(n_bands)
    )
    return ctes, band_selects


def _minhash_docs_oracle_sql(
    num_hashes: int = 16,
    band_size: int = 2,
    max_bucket: int = 64,
    threshold: float = 0.5,
) -> str:
    """DuckDB twin of the FULL MinHash-LSH doc-dedup path: word-3-gram
    shingles -> portable hashes -> affine minhash signatures -> banded
    buckets -> bucket cap -> candidate self-join -> exact hashed-shingle
    Jaccard — value-for-value against operators/dedup.minhash_candidate_pairs."""
    sig_ctes, band_selects = _minhash_sig_ctes("sh", num_hashes, band_size)
    return rf"""
    WITH toks AS (
        SELECT doc_id AS id, string_split_regex(text, '\s+') AS t FROM documents
      ),
      sh AS (
        SELECT id, list_distinct([array_to_string(t[i:i+2], ' ')
                                  for i in range(1, greatest(len(t) - 2, 1) + 1)]) AS shingles
        FROM toks
      ),{sig_ctes},
      bands AS (
        {band_selects}
      ),
      capped AS (
        SELECT * FROM (
          SELECT *, count(*) OVER (PARTITION BY band_id, band_hash) AS bsz FROM bands
        ) WHERE bsz <= {max_bucket}
      ),
      pairs AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM capped a JOIN capped b
          ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.id < b.id
      )
    SELECT p.id_a, p.id_b,
           round(CAST(len(list_intersect(ha.hs, hb.hs)) AS DOUBLE)
                 / len(list_distinct(list_concat(ha.hs, hb.hs))), 4) AS jaccard
    FROM pairs p
    JOIN hsh ha ON ha.id = p.id_a
    JOIN hsh hb ON hb.id = p.id_b
    WHERE round(CAST(len(list_intersect(ha.hs, hb.hs)) AS DOUBLE)
                / len(list_distinct(list_concat(ha.hs, hb.hs))), 4) >= {threshold}
    """


def _dedup_clusters_oracle_sql() -> str:
    """DuckDB twin of MinHash pairs -> connected components: the verified
    near-dup pair query (same SQL as dedup_minhash_docs) feeds a recursive
    transitive closure; each component labels as its minimum doc id — the same
    contract operators/cc.connected_components guarantees."""
    return rf"""
    WITH RECURSIVE pairs AS ({_minhash_docs_oracle_sql()}),
    sym AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION ALL
      SELECT id_b AS a, id_a AS b FROM pairs
    ),
    reach(src, dst) AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a
    ),
    members AS (
      SELECT src AS member, least(src, min(dst)) AS cluster_id
      FROM reach GROUP BY src
    )
    SELECT cluster_id,
           CAST(count(*) AS BIGINT) AS cluster_size,
           array_to_string(
             list_transform(list_sort(list(member)), x -> CAST(x AS VARCHAR)),
             ',') AS members
    FROM members
    GROUP BY cluster_id
    """


@query("dedup_clusters", _dedup_clusters_oracle_sql())
def q_dedup_clusters(spark, sf_dir):
    """Near-dup CLUSTERS: verified MinHash pairs -> connected components
    (the DISTRIBUTED alternating-star loop — `small_graph_threshold=0`
    forces it so the oracle covers the scale path, not the driver-side
    union-find shortcut) -> one row per component labeled by its min doc
    id. The DuckDB twin computes the same components via a recursive
    transitive closure, so even the iterative CC operator sits under the
    value-hash gate."""
    from ocds_entity_extract_spark.operators.cc import connected_components
    from ocds_entity_extract_spark.operators.dedup import minhash_candidate_pairs

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    edges = minhash_candidate_pairs(docs).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    cc = connected_components(edges, small_graph_threshold=0)
    return cc.groupBy(F.col("canonical_id").alias("cluster_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list("entity_id")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("members"),
    )


@query("dedup_minhash_docs", _minhash_docs_oracle_sql())
def q_dedup_minhash_docs(spark, sf_dir):
    """MinHash-LSH near-dup candidates over word 3-gram shingles of
    documents.text (shingle -> minhash -> band -> bucket-join; same
    machinery as entity linking but on documents). The md5-derived hash
    family (functions/phash) lets the DuckDB oracle reproduce the whole
    path, so this sits under the full value-hash gate."""
    from ocds_entity_extract_spark.operators.dedup import minhash_candidate_pairs

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return minhash_candidate_pairs(d)


@query("dedup_minhash_docs_fast")
def q_dedup_minhash_docs_fast(spark, sf_dir):
    """The PRODUCTION MinHash family: identical banding/cap/verify plan but
    per-shingle xxhash64 (functions/phash.fast_hash64, whole-stage codegen,
    ~5x cheaper than the md5-derived portable family) — the configuration a
    100 TB dedup run would use. No DuckDB oracle (xxhash64 is not
    reproducible in DuckDB; rows-only check): correctness rides
    (a) the md5 twin above under the full value-hash gate — same plan,
    only the hash family differs — and (b) the pair-parity pytest
    (test_minhash_fast_family_pair_parity: exact-Jaccard verification is
    family-independent, clear near-dups found by both families)."""
    from ocds_entity_extract_spark.operators.dedup import minhash_candidate_pairs

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return minhash_candidate_pairs(d, hash_family="fast")


@query(
    "top_ngrams",
    r"""
    WITH toks AS (
      SELECT string_split_regex(text, '\s+') AS t FROM documents
    ),
    grams AS (
      SELECT unnest([array_to_string(t[i:i+1], ' ')
                     for i in range(1, len(t))]) AS ngram
      FROM toks WHERE len(t) >= 2
    )
    SELECT ngram, CAST(count(*) AS BIGINT) AS n
    FROM grams GROUP BY ngram
    ORDER BY n DESC, ngram ASC LIMIT 50
    """,
)
def q_top_ngrams(spark, sf_dir):
    """Corpus-wide top-50 word bigrams — the vocab/frequency stats a
    tokenizer-induction or contamination-analysis pass publishes. ONE
    shuffle (groupBy ngram, map-side combine carries most of the mass);
    the top-k is TakeOrdered on (count DESC, ngram ASC) — a deterministic
    driver-side k-heap, never a full sort of the vocab."""
    d = _t(spark, sf_dir, "documents")
    grams = (
        d.withColumn("_toks", F.split("text", r"\s+"))
        .filter(F.size("_toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(_toks) - 1),"
                    " i -> concat_ws(' ', slice(_toks, i, 2)))"
                )
            ).alias("ngram")
        )
    )
    return (
        grams.groupBy("ngram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), F.col("ngram").asc())
        .limit(50)
    )


@query(
    "tfidf_top_terms",
    r"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM toks WHERE term <> '' GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
    ),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             round(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 6)
               AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, tfidf FROM scored
    QUALIFY row_number() OVER (
      PARTITION BY doc_id ORDER BY tfidf DESC, term ASC
    ) <= 3
    """,
)
def q_tfidf_top_terms(spark, sf_dir):
    """Per-document top-3 salient terms by smooth tf-idf
    (tf * (ln((N+1)/(df+1)) + 1)) — the classic curation statistic behind
    stop-word discovery, keyword extraction and topic-drift monitoring
    over a training corpus.

    Plan shape at 100 TB: token explode is narrow; tf is ONE
    partial-aggregated hash agg on (doc_id, term); df re-aggregates the
    (already vocab x docs-bounded) tf table on term — both exchanges
    carry partials, never raw tokens. N rides in as a 1-row broadcast
    (cross join of an aggregate, the scalar-subquery shape). The tf⋈df
    join keys on term: df is vocab-sized (Zipf-bounded ≪ corpus), so AQE
    picks broadcast at any realistic vocab and a shuffle join beyond it.
    The final top-k is a per-document window whose fan-in is bounded by
    per-doc vocabulary — a local k-select, not a global sort. Scores are
    rounded to 6dp BEFORE ranking (ties broken by term) so the ordering
    is reproducible across engines/libm versions — the same determinism
    discipline as the md5-derived hash family (functions/phash)."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), r"\s+")).alias("term"),
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    df = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf")
                * (
                    F.log(
                        (F.col("n_docs") + F.lit(1.0))
                        / (F.col("df") + F.lit(1.0))
                    )
                    + F.lit(1.0)
                ),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 3)
        .drop("_rn")
    )


@query(
    "dedup_incremental",
    f"""
    WITH pairs AS ({_minhash_docs_oracle_sql()}),
    flags AS (
      SELECT doc_id,
             (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT)
              % 100) >= 80 AS is_new
      FROM documents
    )
    SELECT p.id_a, p.id_b, p.jaccard,
           CASE WHEN fa.is_new AND fb.is_new THEN 'both'
                WHEN fa.is_new THEN 'a' ELSE 'b' END AS new_side
    FROM pairs p
    JOIN flags fa ON fa.doc_id = p.id_a
    JOIN flags fb ON fb.doc_id = p.id_b
    WHERE fa.is_new OR fb.is_new
    """,
)
def q_dedup_incremental(spark, sf_dir):
    """Incremental (batch-vs-corpus) dedup — the production pattern at
    corpus scale: the 'new crawl batch' (the dataset_split hash convention's
    top 20% of doc ids — deterministic, no rand()) is deduped against
    history + itself; corpus x corpus never runs. Pair output equals the
    full-dedup pair set restricted to new-touching pairs (the oracle states
    exactly that restriction over the full-path SQL twin), while the Spark
    plan drops no-new-member buckets before pair explosion — see
    operators/dedup.minhash_incremental_pairs for the cost model."""
    from ocds_entity_extract_spark.operators.dedup import (
        minhash_incremental_pairs,
    )

    d = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("int")
        % 100
    )
    docs = d.select("doc_id", "text", (bucket >= 80).alias("is_new"))
    return minhash_incremental_pairs(docs, "is_new")


def _dedup_canonical_oracle_sql() -> str:
    """DuckDB twin of cluster -> representative selection: the verified
    near-dup clusters (same recursive closure as dedup_clusters) label every
    document (singletons label as themselves), then one row per cluster
    survives — highest n_chars, doc_id as the deterministic tie-break."""
    return rf"""
    WITH RECURSIVE pairs AS ({_minhash_docs_oracle_sql()}),
    sym AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION ALL
      SELECT id_b AS a, id_a AS b FROM pairs
    ),
    reach(src, dst) AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a
    ),
    members AS (
      SELECT src AS member, least(src, min(dst)) AS cluster_id
      FROM reach GROUP BY src
    ),
    labeled AS (
      SELECT d.doc_id, d.n_chars,
             coalesce(m.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN members m ON m.member = d.doc_id
    ),
    ranked AS (
      SELECT *,
             row_number() OVER (PARTITION BY cluster_id
                                ORDER BY n_chars DESC, doc_id ASC) AS rn,
             count(*) OVER (PARTITION BY cluster_id) AS csz
      FROM labeled
    )
    SELECT cluster_id,
           doc_id AS kept_doc_id,
           CAST(csz AS BIGINT) AS cluster_size,
           CAST(n_chars AS BIGINT) AS kept_n_chars
    FROM ranked WHERE rn = 1
    """


@query("dedup_canonical_docs", _dedup_canonical_oracle_sql())
def q_dedup_canonical_docs(spark, sf_dir):
    """Canonical-document selection — the step a training-data pipeline runs
    AFTER near-dup clustering: every document gets a cluster label
    (verified MinHash pairs -> connected components; docs in no pair are
    their own cluster), and exactly one representative per cluster is kept
    (longest n_chars, min doc_id tie-break). 100 TB shape: the labeling is
    a LEFT equi-join on doc id — NOT a forced broadcast: on a dup-heavy web
    corpus the CC mapping is O(docs that appear in any pair), easily
    billions of rows, so AQE picks broadcast only when the mapping actually
    fits. Representative selection is one window shuffle partitioned by
    cluster_id; no all-pairs stage anywhere."""
    from ocds_entity_extract_spark.operators.cc import connected_components
    from ocds_entity_extract_spark.operators.dedup import minhash_candidate_pairs

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    edges = minhash_candidate_pairs(docs.select("doc_id", "text")).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    cc = connected_components(edges)
    labeled = docs.join(
        cc, docs["doc_id"] == cc["entity_id"], "left"
    ).select(
        "doc_id",
        "n_chars",
        F.coalesce(F.col("canonical_id"), F.col("doc_id")).alias("cluster_id"),
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    wsz = Window.partitionBy("cluster_id")
    return (
        labeled.withColumn("rn", F.row_number().over(w))
        .withColumn("cluster_size", F.count(F.lit(1)).over(wsz))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("kept_doc_id"),
            F.col("cluster_size").cast("bigint").alias("cluster_size"),
            F.col("n_chars").cast("bigint").alias("kept_n_chars"),
        )
    )


def _simhash_cte() -> str:
    """Shared DuckDB CTE body producing sh(doc_id, simhash) — the twin of
    operators/dedup.simhash64: per-token md5 -> first 16 hex chars as an
    unsigned 64-bit hash -> per-bit sign votes -> signed 64-bit signature
    (bit 63 contributes -2^63, matching the two's-complement wrap)."""
    votes = ",\n             ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(64)
    )
    bit63 = "(CASE WHEN v63 > 0 THEN (-9223372036854775807 - 1) ELSE 0 END)"
    others = "\n           + ".join(
        f"(CASE WHEN v{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(63)
    )
    return rf"""tok AS (
        SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'),
                                          x -> x <> '')) AS t
        FROM documents
      ),
      h AS (
        SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 16)) AS UBIGINT) AS h FROM tok
      ),
      v AS (
        SELECT doc_id,
             {votes}
        FROM h GROUP BY doc_id
      ),
      sh AS (
        SELECT d.doc_id,
               CAST({bit63}
               + {others} AS BIGINT) AS simhash
        FROM documents d LEFT JOIN v USING (doc_id)
      )"""


def _simhash_oracle_sql() -> str:
    return f"""
    WITH {_simhash_cte()}
    SELECT doc_id, simhash FROM sh
    """


@query("simhash_docs", _simhash_oracle_sql())
def q_simhash_docs(spark, sf_dir):
    """64-bit SimHash per document (token-hash sign-vote), Arrow-batched +
    numpy-vectorized; md5 token hashes make the DuckDB oracle exact."""
    from ocds_entity_extract_spark.operators.dedup import with_simhash

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return with_simhash(d).select("doc_id", "simhash")


def _simhash_pairs_oracle_sql(max_hamming: int = 6) -> str:
    """DuckDB twin of operators/dedup.simhash_near_pairs: 4 x 16-bit chunk
    blocking (pigeonhole) + hamming verification via bit_count(xor) —
    identical arithmetic-shift/mask/bit_count semantics on signed longs."""
    return f"""
    WITH {_simhash_cte()},
      chunks AS (
        SELECT doc_id, simhash, CAST(t.i AS INT) AS chunk_id,
               (simhash >> (CAST(t.i AS INT) * 16)) & 65535 AS chunk
        FROM sh CROSS JOIN unnest([0, 1, 2, 3]) AS t(i)
      ),
      pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               a.simhash AS sa, b.simhash AS sb
        FROM chunks a JOIN chunks b
          ON a.chunk_id = b.chunk_id AND a.chunk = b.chunk AND a.doc_id < b.doc_id
      )
    SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
    FROM pairs WHERE bit_count(xor(sa, sb)) <= {max_hamming}
    """


@query("simhash_near_pairs", _simhash_pairs_oracle_sql())
def q_simhash_near_pairs(spark, sf_dir):
    """SimHash near-dup join: 4x16-bit chunk blocking (any pair within
    hamming <= 6 shares an exact chunk), hamming verified via
    bit_count(xor) — full value-hash oracle."""
    from ocds_entity_extract_spark.operators.dedup import simhash_near_pairs

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return simhash_near_pairs(d).select(
        "id_a", "id_b", F.col("hamming").cast("bigint").alias("hamming")
    )


def _linking_signatures_oracle_sql(num_hashes: int = 16) -> str:
    """DuckDB twin of linking.minhash_signature_table over entity slugs
    derived from part names (slug -> char-3-gram shingles -> affine
    minhash signature + distinct-shingle count)."""
    from ocds_entity_extract_spark.functions.phash import (
        MERSENNE_P as P,
        minhash_params,
    )

    sig_cols = " || ',' || ".join(
        f"CAST(list_min([({a} * (h % {P}) + {b}) % {P} for h in hs]) AS VARCHAR)"
        for a, b in minhash_params(num_hashes)
    )
    return """
    WITH slug AS (
        SELECT DISTINCT trim(regexp_replace(lower(p_name), '[^a-z0-9]+', '-', 'g'), '-')
               AS entity_id
        FROM part
      ),
      sh AS (
        SELECT entity_id,
               list_distinct([substr(entity_id, i, 3)
                              for i in range(1, greatest(length(entity_id) - 2, 1) + 1)])
               AS shingles
        FROM slug
      ),
      hsh AS (
        SELECT entity_id,
               [CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) for s in shingles] AS hs
        FROM sh
      )
    SELECT entity_id,
           {sig_cols} AS signature,
           CAST(len(list_distinct(hs)) AS BIGINT) AS n_shingles
    FROM hsh
    """.replace("{sig_cols}", sig_cols)


@query("linking_signatures", _linking_signatures_oracle_sql())
def q_linking_signatures(spark, sf_dir):
    """Entity-linking MinHash signature table (the blocking stage of the
    sameAs path) over slugs of part names — full value-hash oracle for the
    signature math itself (shingling + portable hash + affine family)."""
    from ocds_entity_extract_spark.operators.linking import (
        minhash_signature_table,
        with_shingles,
    )

    slugs = (
        _t(spark, sf_dir, "part")
        .select(simple_name("p_name").alias("entity_id"))
        .distinct()
    )
    sig = minhash_signature_table(
        with_shingles(slugs, "entity_id"),
        "entity_id",
        keep_shingle_sets=True,
        keep_minhashes=True,
    )
    return sig.select(
        "entity_id",
        F.concat_ws(",", *[F.col(f"mh{i}").cast("string") for i in range(16)]).alias(
            "signature"
        ),
        F.col("n_shingles").cast("bigint").alias("n_shingles"),
    )


@query(
    "ngram_jaccard_pairs",
    r"""
    WITH sh AS (
      SELECT doc_id, source,
             list_distinct([array_to_string(toks[i:i+2], ' ')
                            for i in range(1, greatest(len(toks) - 2, 1) + 1)]) AS s
      FROM (SELECT doc_id, source, string_split_regex(text, '\s+') AS toks
            FROM documents)
    ), pairs AS (
      SELECT a.source AS source, a.doc_id AS id_a, b.doc_id AS id_b,
             round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                   / len(list_distinct(list_concat(a.s, b.s))), 4) AS jaccard
      FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
    )
    SELECT source, id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.2
    """,
)
def q_ngram_jaccard_pairs(spark, sf_dir):
    """Exact word-3-gram Jaccard pairs within source blocks. The Spark side
    intersects HASHED shingle sets (xxhash64) — equal to the oracle's
    string-set Jaccard up to negligible 64-bit collisions."""
    from ocds_entity_extract_spark.operators.dedup import ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    return ngram_jaccard_pairs(d, block_col="source", threshold=0.2)


# =====================================================================
# similarity search
# =====================================================================

@query(
    "ann_topk_bruteforce",
    """
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id, round(list_cosine_similarity(e.embedding, q.qv), 3) AS score
    FROM embeddings e, q
    WHERE e.vec_id != 0
    ORDER BY score DESC, e.vec_id
    LIMIT 10
    """,
)
def q_ann_topk_bruteforce(spark, sf_dir):
    """Brute-force cosine top-k (ANN baseline). Order on the ROUNDED score
    + vec_id so both engines resolve ties identically."""
    e = _t(spark, sf_dir, "embeddings")
    qv = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    return (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id", F.round(cosine(F.col("embedding"), F.col("qv")), 3).alias("score")
        )
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(10)
    )


def _ann_lsh_oracle_sql(dim: int = 64, n_planes: int = 4, seed: int = 7) -> str:
    """DuckDB twin of ann_topk_lsh AT ITS DEFAULTS: the SAME seeded
    hyperplanes (plain literals in both plans) -> sign-pattern bucket ->
    multi-probe at the operator's n_planes-scaled default radius (2 only
    from 8 planes; radius 1 below — at 4 planes radius 2 would probe 11/16
    of the corpus, a silent near-scan) -> bucket-local top-k. The probe
    mask set is EMBEDDED here and derived by the same rule, so operator
    and oracle stay locked."""
    from ocds_entity_extract_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(dim, n_planes, seed)
    cases = "\n           + ".join(
        f"CASE WHEN list_dot_product(embedding, {[round(x, 17) for x in p]}) > 0 "
        f"THEN {1 << i} ELSE 0 END"
        for i, p in enumerate(planes)
    )
    radius = 2 if n_planes >= 8 else 1          # the operator's default rule
    masks = [1 << i for i in range(n_planes)]
    if radius >= 2:
        masks += [
            (1 << i) | (1 << j)
            for i in range(n_planes)
            for j in range(i + 1, n_planes)
        ]
    probe = " OR ".join(
        ["e.bucket = q.qbucket"]
        + [f"e.bucket = xor(q.qbucket, {m})" for m in masks]
    )
    return f"""
    WITH b AS (
      SELECT vec_id, embedding,
             ({cases}) AS bucket
      FROM embeddings
    ), q AS (SELECT embedding AS qv, bucket AS qbucket FROM b WHERE vec_id = 0)
    SELECT e.vec_id, round(list_cosine_similarity(e.embedding, q.qv), 3) AS score
    FROM b e, q
    WHERE e.vec_id != 0 AND ({probe})
    ORDER BY score DESC, e.vec_id
    LIMIT 10
    """


EMBEDDING_DIM = 64  # driver testdata embeddings.parquet vector length


@query("ann_topk_lsh", _ann_lsh_oracle_sql(dim=EMBEDDING_DIM))
def q_ann_topk_lsh(spark, sf_dir):
    """Multi-probe LSH ANN: random-hyperplane signature buckets; search the
    query's bucket + hamming-1 neighbors (the scale path: bucket-local
    top-k with recall recovered by probing adjacent buckets)."""
    from ocds_entity_extract_spark.operators.similarity import ann_topk_lsh

    e = _t(spark, sf_dir, "embeddings")
    return ann_topk_lsh(e, query_vec_id=0, k=10, n_planes=4, dim=EMBEDDING_DIM)


def _ann_ivf_oracle_sql(n_centroids: int = 16, n_probe: int = 12) -> str:
    """DuckDB twin of ann_topk_ivf: centroids are embedding rows (vec_id
    1..K), so no literals are needed — both engines derive assignment and
    probe sets from the same data with identical (rounded sim, cid)
    tie-breaking."""
    return f"""
    WITH c AS (
        SELECT vec_id AS cid, embedding AS cv FROM embeddings
        WHERE vec_id BETWEEN 1 AND {n_centroids}
      ),
      q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      asg AS (
        SELECT vec_id, embedding, cid FROM (
          SELECT e.vec_id, e.embedding, c.cid,
                 row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY round(list_cosine_similarity(e.embedding, c.cv), 3) DESC,
                            c.cid
                 ) AS rn
          FROM embeddings e CROSS JOIN c
        ) WHERE rn = 1
      ),
      probes AS (
        SELECT cid FROM (
          SELECT c.cid,
                 row_number() OVER (
                   ORDER BY round(list_cosine_similarity(c.cv, q.qv), 3) DESC, c.cid
                 ) AS rn
          FROM c CROSS JOIN q
        ) WHERE rn <= {n_probe}
      )
    SELECT a.vec_id, round(list_cosine_similarity(a.embedding, q.qv), 3) AS score
    FROM asg a JOIN probes USING (cid) CROSS JOIN q
    WHERE a.vec_id != 0
    ORDER BY score DESC, a.vec_id
    LIMIT 10
    """


@query("ann_topk_ivf", _ann_ivf_oracle_sql())
def q_ann_topk_ivf(spark, sf_dir):
    """IVF-bucketed ANN (coarse quantization + multi-centroid probe) — the
    industry-standard scale path; recovers recall where random-hyperplane
    LSH is weak (mid-similarity neighbors)."""
    from ocds_entity_extract_spark.operators.similarity import ann_topk_ivf

    e = _t(spark, sf_dir, "embeddings")
    return ann_topk_ivf(e, query_vec_id=0, k=10, n_centroids=16)


# =====================================================================
# text analysis
# =====================================================================

def _hits(col, pat: str):
    return (
        (F.length(col) - F.length(F.replace(col, F.lit(pat), F.lit(""))))
        / len(pat)
    ).cast("bigint")


@query(
    "lang_id_heuristic",
    """
    SELECT detected, count(*) AS n_docs FROM (
      SELECT CASE
        WHEN ((length(text) - length(replace(text, ' the ', ''))) / 5
              + (length(text) - length(replace(text, ' and ', ''))) / 5)
           > ((length(text) - length(replace(text, ' el ', ''))) / 4
              + (length(text) - length(replace(text, ' la ', ''))) / 4) THEN 'en'
        WHEN ((length(text) - length(replace(text, ' el ', ''))) / 4
              + (length(text) - length(replace(text, ' la ', ''))) / 4)
           > ((length(text) - length(replace(text, ' the ', ''))) / 5
              + (length(text) - length(replace(text, ' and ', ''))) / 5) THEN 'es'
        ELSE 'und' END AS detected
      FROM documents)
    GROUP BY detected
    """,
)
def q_lang_id_heuristic(spark, sf_dir):
    """Stopword-marker language ID (n-gram heuristic family)."""
    d = _t(spark, sf_dir, "documents")
    t = F.col("text")
    en = _hits(t, " the ") + _hits(t, " and ")
    es = _hits(t, " el ") + _hits(t, " la ")
    detected = (
        F.when(en > es, F.lit("en")).when(es > en, F.lit("es")).otherwise(F.lit("und"))
    )
    return (
        d.select(detected.alias("detected"))
        .groupBy("detected")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@query(
    "quality_scores",
    """
    SELECT doc_id,
           CAST(length(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tokens,
           round(CAST(n_chars AS DOUBLE)
                 / length(string_split_regex(text, '\\s+')), 2) AS chars_per_token,
           CAST((length(text) - length(replace(text, ' the ', ''))) / 5 AS BIGINT) AS stop_hits
    FROM documents
    """,
)
def q_quality_scores(spark, sf_dir):
    """Per-doc quality features: token count, chars/token, stopword hits."""
    d = _t(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.col("text"), r"\s+")).cast("bigint")
    return d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.round(F.col("n_chars").cast("double") / n_tok, 2).alias("chars_per_token"),
        _hits(F.col("text"), " the ").alias("stop_hits"),
    )


@query(
    "token_stats_total",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(length(string_split_regex(text, '\\s+'))) AS BIGINT) AS total_tokens,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    """,
)
def q_token_stats_total(spark, sf_dir):
    """Corpus-level token accounting (map-side partial sums)."""
    d = _t(spark, sf_dir, "documents")
    return d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), r"\s+"))).cast("bigint").alias("total_tokens"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


# BPE-ish pre-tokenizer: GPT-2-style word/number/punct split WITHOUT
# lookahead (Java regex and DuckDB's RE2 both lack/limit it) — one token
# per optionally-space-prefixed letter run, digit run, or punct run.
BPE_RE = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"


@query(
    "token_stats_bpe",
    f"""
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(regexp_extract_all(text, '{BPE_RE}'))) AS BIGINT)
             AS total_bpe_tokens,
           CAST(max(len(regexp_extract_all(text, '{BPE_RE}'))) AS BIGINT)
             AS max_doc_tokens
    FROM documents
    """,
)
def q_token_stats_bpe(spark, sf_dir):
    """BPE-ish token counting: a GPT-2-style pre-tokenizer regex (letter /
    digit / punctuation runs with optional leading space) counted per doc
    — the subword-budget estimator a training-data pipeline runs before
    the real tokenizer. Same pattern compiles identically under Java
    regex and RE2, so the oracle is exact."""
    d = _t(spark, sf_dir, "documents")
    n_tok = F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_RE), 0))
    return d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_tok).cast("bigint").alias("total_bpe_tokens"),
        F.max(n_tok).cast("bigint").alias("max_doc_tokens"),
    )


@query(
    "doc_fingerprints",
    """
    SELECT doc_id,
           sha256(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint
    FROM documents
    """,
)
def q_doc_fingerprints(spark, sf_dir):
    """Normalized content fingerprint (S9 content-hash id family)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.sha2(F.lower(collapse_ws("text")), 256).alias("fingerprint"),
    )


@query(
    "dataset_split",
    """
    SELECT split, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS n_chars
    FROM (
      SELECT lang, n_chars,
             CASE
               WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT)
                    % 100 < 80 THEN 'train'
               WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT)
                    % 100 < 90 THEN 'val'
               ELSE 'test'
             END AS split
      FROM documents)
    GROUP BY split, lang
    """,
)
def q_dataset_split(spark, sf_dir):
    """Deterministic hash-based train/val/test split (80/10/10): the
    content-stable assignment a training-data pipeline needs — pure
    codegen (md5 of the id, first 2 bytes mod 100), no rand(), identical
    under any partitioning/rerun, and the doc's split never changes when
    the corpus grows. Per (split, lang) doc + char counts."""
    d = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("int")
        % 100
    )
    split = (
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return d.groupBy(split.alias("split"), "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
    )


@query(
    "events_sessionize",
    """
    WITH g AS (
      SELECT user_id, event_id, ts,
             CASE WHEN epoch_us(ts)
                       - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                                 ORDER BY ts, event_id)
                       > 1800000000
                  OR lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ),
    s AS (
      SELECT user_id, event_id, ts,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_no
      FROM g
    )
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           CAST(count(*) AS BIGINT) AS n_events,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           round((max(epoch_us(ts)) - min(epoch_us(ts))) / 1000000.0, 3)
             AS duration_s
    FROM s
    GROUP BY user_id, session_no
    """,
)
def q_events_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity splits a session): the
    lag-flag + running-sum window idiom — per-user shuffle once, both
    windows and the final per-session aggregation reuse that partitioning.
    The batch twin of the stateful-streaming profile operator
    (streaming/stateful.py)."""
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # events.ts is TIMESTAMP_NTZ; unix_micros needs TIMESTAMP — gaps and
    # durations are timezone-invariant, so the cast is safe
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    is_new = F.when(gap.isNull() | (gap > 1800 * 1000 * 1000), 1).otherwise(0)
    s = e.withColumn(
        "session_no",
        F.sum(is_new).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return s.groupBy("user_id", F.col("session_no").cast("bigint").alias("session_no")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.round(
            (
                F.max(F.unix_micros(F.col("ts").cast("timestamp")))
                - F.min(F.unix_micros(F.col("ts").cast("timestamp")))
            )
            / 1e6,
            3,
        ).alias("duration_s"),
    )


_CONTACT_RE_SQL = (
    "(?:[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(?:\\.[A-Za-z0-9-]+)+"
    "|tel[.:]?\\s+[0-9]{2,3}[- ][0-9]{4}[- ][0-9]{4})"
)


@query(
    "contact_spans",
    f"""
    SELECT doc_id,
           array_to_string(
             list_sort(regexp_extract_all(
               text || ' contacto: doc' || CAST(doc_id AS VARCHAR)
                    || '@ejemplo.mx fin',
               '{_CONTACT_RE_SQL}')),
             ',') AS contacts,
           CAST(len(regexp_extract_all(
               text || ' contacto: doc' || CAST(doc_id AS VARCHAR)
                    || '@ejemplo.mx fin',
               '{_CONTACT_RE_SQL}')) AS BIGINT) AS n_contacts
    FROM documents
    """,
)
def q_contact_spans(spark, sf_dir):
    """Contact-span extraction (≙ contactPoint -> contact_details assembly,
    reference extract.js:889-891): the pipeline's email/tel regex
    (operators/mentions.CONTACT_RE) applied via JVM `regexp_extract_all`.
    The shared corpus text carries no emails, so a deterministic
    doc-derived address is appended on BOTH sides — same input string,
    same regex, both engines extract."""
    from ocds_entity_extract_spark.operators.mentions import CONTACT_RE

    d = _t(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" contacto: doc"),
        F.col("doc_id").cast("string"),
        F.lit("@ejemplo.mx fin"),
    )
    matches = F.regexp_extract_all(aug, F.lit(CONTACT_RE), 0)
    return d.select(
        "doc_id",
        F.array_join(F.array_sort(matches), ",").alias("contacts"),
        F.size(matches).cast("bigint").alias("n_contacts"),
    )


# =====================================================================
# multimodal binary plumbing
# =====================================================================

@query(
    "multimodal_meta",
    """
    SELECT doc_id,
           CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
           sha256(text) AS content_sha
    FROM documents
    """,
)
def q_multimodal_meta(spark, sf_dir):
    """Opaque-binary metadata pass: byte length + content hash over a
    binary payload column (the schema/partitioning side of multimodal)."""
    d = _t(spark, sf_dir, "documents")
    payload = F.encode("text", "UTF-8")
    return d.select(
        "doc_id",
        F.octet_length(payload).cast("bigint").alias("n_bytes"),
        F.sha2(payload, 256).alias("content_sha"),
    )


@query(
    "multimodal_decode_stub",
    """
    SELECT doc_id,
           CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
           sha256(text) AS content_sha,
           CAST(16 + CAST(('0x' || substr(sha256(text), 1, 2)) AS INT) % 64 AS BIGINT)
             AS fake_width,
           CAST(16 + CAST(('0x' || substr(sha256(text), 3, 2)) AS INT) % 64 AS BIGINT)
             AS fake_height
    FROM documents
    """,
)
def q_multimodal_decode_stub(spark, sf_dir):
    """mapInPandas over binary payloads through the (stubbed) decoder —
    the Spark-side plumbing (schema, batching, UDF signature) is real.
    The stub derives fake dims from sha256 bytes 0/1, so the DuckDB oracle
    mirrors it exactly (hex-byte arithmetic) — full value-hash gate."""
    from ocds_entity_extract_spark.operators.multimodal import decode_binary_meta

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    return decode_binary_meta(d)


@query(
    "multimodal_features",
    """
    SELECT doc_id,
           array_to_string(
             [printf('%.6f', CAST(('0x' || substr(sha256(text), 2*i+1, 2)) AS INT) / 255.0)
              for i in range(0, 8)], ',') AS features
    FROM documents
    """,
)
def q_multimodal_features(spark, sf_dir):
    """mapInPandas featurizer (stub model: sha256-byte vector) — the SQL
    oracle mirrors the fake exactly, so even this mapInPandas path sits
    under the full value-hash gate. The vector is rendered as a fixed-
    format comma-joined string per the repo convention (queries.py:13) —
    raw array columns crash the driver's pandas canonicalizer."""
    from ocds_entity_extract_spark.operators.multimodal import extract_features

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    feats = extract_features(d, dim=8)
    return feats.select(
        "doc_id",
        F.array_join(
            F.transform("features", lambda v: F.format_number(v, 6)), ","
        ).alias("features"),
    )


@query(
    "multimodal_frame_sample",
    """
    WITH f AS (
      SELECT doc_id, text, length(text) AS len,
             CASE WHEN length(text) >= 4 THEN 4 ELSE 1 END AS k
      FROM documents
    )
    SELECT doc_id, CAST(t.i AS BIGINT) AS frame_idx,
           CAST((t.i * len) // k AS BIGINT) AS offset_bytes,
           sha256(substring(text, CAST((t.i * len) // k AS BIGINT) + 1, 256)) AS frame_sha
    FROM f CROSS JOIN unnest(range(f.k)) AS t(i)
    """,
)
def q_multimodal_frame_sample(spark, sf_dir):
    """mapInPandas FAN-OUT (1 payload row -> k frame rows): the video
    frame-sampling plumbing. Oracle slices the VARCHAR text — byte-exact
    here because the driver corpus is pure ASCII (verified); the operator
    itself is byte-offset-correct for any binary."""
    from ocds_entity_extract_spark.operators.multimodal import sample_frames

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    return sample_frames(d, n_frames=4, frame_bytes=256)


def _resize_oracle_sql(out_width: int = 16, out_height: int = 16) -> str:
    """DuckDB twin of the resize stub: the hex-iterated sha256 keystream
    (block_{i+1} = sha256(hex(block_i)), 32 bytes per block) as chained
    CTEs; the output payload is compared as its lowercase hex rendering."""
    n_out = out_width * out_height
    n_blocks = -(-n_out // 32)
    ctes = ["k1 AS (SELECT doc_id, sha256(text) AS b1 FROM documents)"]
    for i in range(2, n_blocks + 1):
        ctes.append(f"k{i} AS (SELECT *, sha256(b{i-1}) AS b{i} FROM k{i-1})")
    concat = "||".join(f"b{i}" for i in range(1, n_blocks + 1))
    cte_sql = ",\n         ".join(ctes)
    return f"""
    WITH {cte_sql}
    SELECT doc_id,
           CAST({out_width} AS BIGINT) AS out_width,
           CAST({out_height} AS BIGINT) AS out_height,
           substr({concat}, 1, {2 * n_out}) AS payload_hex,
           CAST({n_out} AS BIGINT) AS payload_bytes
    FROM k{n_blocks}
    """


@query("multimodal_resize_stub", _resize_oracle_sql(16, 16))
def q_multimodal_resize_stub(spark, sf_dir):
    """mapInPandas binary->binary transform (stub resize): exercises the
    Arrow binary-output path that would carry real pixel buffers. The
    output bytes are rendered as lowercase hex so the DuckDB oracle (which
    mirrors the keystream on VARCHAR digests) hash-matches byte-for-byte."""
    from ocds_entity_extract_spark.operators.multimodal import resize_payload

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    resized = resize_payload(d, out_width=16, out_height=16)
    return resized.select(
        "doc_id",
        F.col("out_width").cast("bigint").alias("out_width"),
        F.col("out_height").cast("bigint").alias("out_height"),
        F.lower(F.hex("payload")).alias("payload_hex"),
        F.octet_length("payload").cast("bigint").alias("payload_bytes"),
    )


# =====================================================================
# KG pipeline (flagship)
# =====================================================================

def _kg_merged_oracle_sql() -> str:
    """DuckDB twin of the flagship chain extract_text -> detect mentions ->
    normalize/slug -> classify -> merge (stages 1-4 of plans/pipeline;
    linking/CC are oracled separately via linking_signatures and excluded
    here because CC is iterative).

    The page synthesis is the oracle's lever: pages are built from
    documents.parquet with a KNOWN html template, so the expected
    pandas-UDF extraction output is constructible in SQL (title + visible
    paragraphs, script dropped, whitespace collapsed) and everything
    downstream — the shared Java/RE2 mention grammar, the slug/normalize
    twins proven by q:scalar_text_fns, the §2.9 heuristic, the A1-A17
    merge aggregates — runs value-for-value in both engines.
    """
    from ocds_entity_extract_spark.functions.classify import (
        COMPANY_SUFFIX_SLUG_RE,
        INSTITUTION_KEYWORDS,
    )
    from ocds_entity_extract_spark.operators.mentions import MENTION_RE

    kw = ", ".join(f"'{k}'" for k in INSTITUTION_KEYWORDS)
    return rf"""
    WITH pages AS (
      SELECT 'https://docs.example.mx/' || CAST(doc_id AS VARCHAR) AS url,
             TIMESTAMP '2025-01-01 00:00:00'
               + doc_id * INTERVAL 1 SECOND AS warc_ts,
             'doc hoy Grupo Alfa' || CAST(doc_id % 50 AS VARCHAR)
               || (CASE WHEN doc_id % 3 = 0 THEN ' S.A.' ELSE '' END)
               || ' anunció resultados.'
               || (CASE WHEN doc_id % 10 = 0
                   THEN ' También participó Grupo Alfa0 en la sesión.'
                   ELSE '' END)
               || ' ' || text AS text
      FROM documents
    ),
    norm AS (
      SELECT url, warc_ts,
             trim(regexp_replace(text, '\s+', ' ', 'g')) AS text
      FROM pages
    ),
    m AS (
      SELECT url, warc_ts,
             unnest(regexp_extract_all(text, '{MENTION_RE}')) AS surface
      FROM norm
    ),
    feat AS (
      SELECT url, warc_ts,
             regexp_replace(trim(surface), '\s+', ' ', 'g') AS name_norm,
             trim(regexp_replace(lower(strip_accents(surface)),
                                 '[^a-z0-9]+', '-', 'g'), '-') AS entity_id,
             regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS domain
      FROM m
    ),
    typed AS (
      SELECT *,
             CASE
               WHEN split_part(entity_id, '-', 1) IN ({kw}) THEN 3
               WHEN regexp_matches(entity_id, '{COMPANY_SUFFIX_SLUG_RE}') THEN 2
               ELSE 1
             END AS rank
      FROM feat
      WHERE entity_id <> ''
    ),
    ranked AS (
      SELECT *,
             row_number() OVER (
               PARTITION BY entity_id
               ORDER BY warc_ts, url, name_norm
             ) AS rn
      FROM typed
    )
    SELECT entity_id,
           max(CASE WHEN rn = 1 THEN name_norm END) AS name,
           CASE max(rank) WHEN 3 THEN 'institution'
                          WHEN 2 THEN 'company'
                          ELSE 'person' END AS entity_type,
           CAST(count(*) AS BIGINT) AS mention_count,
           CAST(count(DISTINCT url) AS BIGINT) AS page_count,
           strftime(min(warc_ts), '%Y-%m-%d %H:%M:%S') AS first_seen,
           strftime(max(warc_ts), '%Y-%m-%d %H:%M:%S') AS last_seen,
           array_to_string(list_sort(list_distinct(list(name_norm))), ',')
             AS all_names,
           array_to_string(list_sort(list_distinct(list(domain))), ',')
             AS sources
    FROM ranked
    GROUP BY entity_id
    """


def _kg_merged_frame(spark, sf_dir, salted: bool):
    """Shared body of kg_merged_entities / kg_merged_entities_salted:
    documents -> deterministic template pages (with a deliberately HOT key,
    Grupo Alfa0, mentioned on every 10th page) -> extract_text (REAL Arrow
    pandas UDF) -> fused mention scan -> dictionary-encoded
    normalize+classify -> merge aggregation. `salted` selects the one-level
    groupBy vs the two-level salted twin (operators/merge.py:89) — both
    produce identical rows (decomposable aggregates), so both sit under the
    SAME DuckDB value-hash oracle."""
    from ocds_entity_extract_spark.operators.mentions import (
        detect_spans_fused,
        mentions_via_dim,
        surface_dim,
    )
    from ocds_entity_extract_spark.operators.merge import (
        merge_entities,
        merge_entities_salted,
    )
    from ocds_entity_extract_spark.functions.classify import with_entity_type

    docs = _t(spark, sf_dir, "documents")
    surface = F.concat(
        F.lit("Grupo Alfa"),
        (F.col("doc_id") % 50).cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(" S.A.")).otherwise(F.lit("")),
    )
    hot = F.when(
        F.col("doc_id") % 10 == 0,
        F.lit(" También participó Grupo Alfa0 en la sesión."),
    ).otherwise(F.lit(""))
    html = F.encode(
        F.concat(
            F.lit(
                "<html><head><title>doc</title><script>var x=1;"
                "</script></head><body><p>hoy "
            ),
            surface,
            F.lit(" anunció resultados."),
            hot,
            F.lit("</p><p>"),
            F.col("text"),
            F.lit("</p></body></html>"),
        ),
        "UTF-8",
    )
    pages = docs.select(
        F.concat(F.lit("https://docs.example.mx/"), F.col("doc_id").cast("string")).alias("url"),
        (
            F.lit("2025-01-01 00:00:00").cast("timestamp")
            + F.make_interval(secs=F.col("doc_id"))
        ).alias("warc_ts"),
        html.alias("html"),
        F.lit(None).cast("string").alias("text"),
    )
    spans = detect_spans_fused(pages)
    dim = with_entity_type(surface_dim(spans))
    mentions = mentions_via_dim(spans, dim, broadcast=True)
    merge = merge_entities_salted if salted else merge_entities
    ents = merge(mentions)
    return ents.select(
        "entity_id",
        "name",
        "entity_type",
        F.col("mention_count").cast("bigint").alias("mention_count"),
        F.col("page_count").cast("bigint").alias("page_count"),
        F.date_format("first_seen", "yyyy-MM-dd HH:mm:ss").alias("first_seen"),
        F.date_format("last_seen", "yyyy-MM-dd HH:mm:ss").alias("last_seen"),
        F.array_join(
            F.array_sort(F.concat(F.array("name"), "other_names")), ","
        ).alias("all_names"),
        F.array_join("sources", ",").alias("sources"),
    )


@query("kg_merged_entities", _kg_merged_oracle_sql())
def q_kg_merged_entities(spark, sf_dir):
    """Flagship stages 1-4 under the full value-hash gate — the same
    operator chain plans/pipeline.build_triples runs, minus linking/CC
    (iterative; verified by golden P/R + linking_signatures instead). See
    _kg_merged_oracle_sql for how the DuckDB twin mirrors the pandas-UDF
    stage and _kg_merged_frame for the shared body."""
    return _kg_merged_frame(spark, sf_dir, salted=False)


@query("kg_merged_entities_salted", _kg_merged_oracle_sql())
def q_kg_merged_entities_salted(spark, sf_dir):
    """The SALTED merge twin (operators/merge.py:89, two-level groupBy on
    (id, salt) -> id) on the same skewed template corpus — the hot key
    Grupo Alfa0 carries ~12% of all mentions, so the salting path is
    genuinely exercised, and the identical oracle SQL value-hash-gates the
    decomposition (north_rule skew path; SURVEY §7.3)."""
    return _kg_merged_frame(spark, sf_dir, salted=True)


_SOURCE_RUNS_ORACLE = """
    WITH m AS (
      SELECT 'grupo-alfa-' || CAST(doc_id % 7 AS VARCHAR) AS entity_id,
             'Grupo Alfa ' || CAST(doc_id % 7 AS VARCHAR) AS name_norm,
             'https://d' || CAST(doc_id % 13 AS VARCHAR) || '.example.mx/'
               || CAST(doc_id AS VARCHAR) AS url,
             TIMESTAMP '2025-01-01 00:00:00'
               + to_days(CAST(doc_id AS INTEGER)) AS warc_ts,
             'd' || CAST(doc_id % 13 AS VARCHAR) || '.example.mx' AS domain
      FROM documents
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY entity_id ORDER BY warc_ts, url, name_norm
      ) AS rn
      FROM m
    )
    SELECT entity_id,
           max(CASE WHEN rn = 1 THEN name_norm END) AS name,
           CAST(count(*) AS BIGINT) AS mention_count,
           CAST(count(DISTINCT url) AS BIGINT) AS page_count,
           strftime(min(warc_ts), '%Y-%m-%d %H:%M:%S') AS first_seen,
           strftime(max(warc_ts), '%Y-%m-%d %H:%M:%S') AS last_seen,
           array_to_string(list_sort(list_distinct(list(domain))), ',')
             AS sources,
           array_to_string(
             list_sort(list_distinct(list(strftime(warc_ts, '%Y-%m')))), ',')
             AS source_runs
    FROM ranked
    GROUP BY entity_id
    """


@query("entity_source_runs", _SOURCE_RUNS_ORACLE)
def q_entity_source_runs(spark, sf_dir):
    """sourceRun provenance (≙ reference extract.js:674-682): merged
    entities carry the SET of crawl runs (monthly capture buckets,
    operators/merge.source_run) they were seen in, alongside the domain
    `sources` set. Mentions are synthesized directly over documents with
    day-granularity timestamps so each entity spans many runs — the whole
    merge aggregate (first-wins name, counts, date range, both provenance
    sets) sits under the DuckDB value-hash gate."""
    from ocds_entity_extract_spark.operators.merge import merge_entities

    d = _t(spark, sf_dir, "documents").select("doc_id")
    mentions = d.select(
        F.concat(F.lit("grupo-alfa-"), (F.col("doc_id") % 7).cast("string")).alias("entity_id"),
        F.concat(F.lit("Grupo Alfa "), (F.col("doc_id") % 7).cast("string")).alias("name_norm"),
        F.lit("company").alias("entity_type"),
        F.concat(
            F.lit("https://d"), (F.col("doc_id") % 13).cast("string"),
            F.lit(".example.mx/"), F.col("doc_id").cast("string"),
        ).alias("url"),
        (
            F.lit("2025-01-01 00:00:00").cast("timestamp")
            + F.make_interval(days=F.col("doc_id").cast("int"))
        ).alias("warc_ts"),
        F.concat(
            F.lit("d"), (F.col("doc_id") % 13).cast("string"),
            F.lit(".example.mx"),
        ).alias("domain"),
    )
    ents = merge_entities(mentions)
    return ents.select(
        "entity_id",
        "name",
        F.col("mention_count").cast("bigint").alias("mention_count"),
        F.col("page_count").cast("bigint").alias("page_count"),
        F.date_format("first_seen", "yyyy-MM-dd HH:mm:ss").alias("first_seen"),
        F.date_format("last_seen", "yyyy-MM-dd HH:mm:ss").alias("last_seen"),
        F.array_join("sources", ",").alias("sources"),
        F.array_join("source_runs", ",").alias("source_runs"),
    )


# =====================================================================
# KG full pipeline (rows-only — pandas UDF + LSH + CC)
# =====================================================================

def _kg_pages(spark, n_pages: int = 300):
    from ocds_entity_extract_spark.datagen import generate_corpus
    from ocds_entity_extract_spark.schemas import PAGES_SCHEMA

    pages, _, aux = generate_corpus(n_pages=n_pages, seed=42)
    return spark.createDataFrame(pages, schema=PAGES_SCHEMA), aux


_SLUG_SQL = (
    "trim(regexp_replace(lower(strip_accents({e})), '[^a-z0-9]+', '-', 'g'), '-')"
)


def _kg_seed_pages_values_sql(n_pages: int = 300) -> str:
    """The seeded datagen corpus as a DuckDB VALUES table of
    (url, extracted text). The html -> text step uses the pinned Python
    extractor (`extract_text_bytes`, golden-file + HTMLParser-parity
    locked) at ORACLE-BUILD time, so everything downstream — mention/
    membership/product regexes, slugging, minhash/LSH/CC, areas — is an
    INDEPENDENT DuckDB re-computation over the exact page texts the
    pipeline's own extractor produces."""
    from ocds_entity_extract_spark.datagen import generate_corpus
    from ocds_entity_extract_spark.functions.html import extract_text_bytes

    pages, _, _ = generate_corpus(n_pages=n_pages, seed=42)

    def q(v: str) -> str:
        return "'" + v.replace("'", "''") + "'"

    rows = ",\n      ".join(
        f"({q(pg['url'])}, {q(extract_text_bytes(pg['html']) or '')})"
        for pg in pages
    )
    return f"(VALUES\n      {rows}) AS pages(url, text)"


def _kg_seed_override_values_sql(n_pages: int = 300) -> str:
    """classifier_override rows (name_norm -> type, last-write-wins) as a
    VALUES dim — the reference's in-memory classifier dict."""
    import re as _re

    from ocds_entity_extract_spark.datagen import generate_corpus

    _, _, aux = generate_corpus(n_pages=n_pages, seed=42)
    last: dict[str, str] = {}
    for row in aux["classifier_override"]:
        last[_re.sub(r"\s+", " ", row["name"]).strip()] = row["type"]
    if not last:
        return "(VALUES ('__none__', 'company')) AS ov(name_norm, override_type)"
    rows = ", ".join(
        f"('{n}', '{t}')" for n, t in sorted(last.items())
    )
    return f"(VALUES {rows}) AS ov(name_norm, override_type)"


def _kg_seeded_triples_oracle_sql(n_pages: int = 300) -> str:
    """DuckDB twin of the FULL build_triples plan on the SEEDED corpus
    (the same 300 pages q_kg_triples runs, override included): mention
    extraction -> surface-level classification with the override dim ->
    slug universe -> portable-md5 minhash -> capped LSH + prefix blocking
    -> containment verification -> recursive transitive closure ->
    mentions/type/sameAs/memberOf/area/product triples. Same machinery as
    _kg_triples_oracle_sql, applied to real datagen pages instead of the
    template — closing the last rows-only gap in the registry."""
    from ocds_entity_extract_spark.functions.classify import (
        COMPANY_SUFFIX_SLUG_RE,
        INSTITUTION_KEYWORDS,
        _slug_py,
    )
    from ocds_entity_extract_spark.functions.geo import MX_STATE_ROWS
    from ocds_entity_extract_spark.operators.linking import (
        DEFAULT_BAND_SIZE,
        DEFAULT_CONTAINMENT_THRESHOLD,
        DEFAULT_MAX_BUCKET,
        DEFAULT_MIN_INTERSECT,
        DEFAULT_NUM_HASHES,
        DEFAULT_PREFIX_LEN,
    )
    from ocds_entity_extract_spark.operators.mentions import (
        CONTACT_RE,
        MEMBERSHIP_RE,
        MENTION_RE,
        PERSON_EMAIL_RE,
        PRODUCT_RE,
    )

    kw = ", ".join(f"'{k}'" for k in INSTITUTION_KEYWORDS)
    sig_ctes, band_selects = _minhash_sig_ctes(
        "shw", DEFAULT_NUM_HASHES, DEFAULT_BAND_SIZE
    )
    dim_rows = [(n, c, _slug_py(n)) for n, c in MX_STATE_ROWS]
    statedim = ", ".join(f"('{n}', '{c}', '{s}')" for n, c, s in dim_rows)
    slug = lambda e: _SLUG_SQL.format(e=e)  # noqa: E731
    return rf"""
    WITH RECURSIVE pages AS (
      SELECT url, text FROM {_kg_seed_pages_values_sql(n_pages)}
    ),
    m AS (
      SELECT url, unnest(regexp_extract_all(text, '{MENTION_RE}')) AS surface
      FROM pages
    ),
    occ AS (
      SELECT url, surface, {slug('surface')} AS entity_id FROM m
      WHERE {slug('surface')} <> ''
    ),
    idu AS (SELECT DISTINCT entity_id AS id FROM occ),
    shw AS (
      SELECT id, list_distinct([substr(id, i, 3)
                 for i in range(1, greatest(length(id) - 2, 1) + 1)]) AS shingles
      FROM idu
    ),{sig_ctes},
    bands AS (
      {band_selects}
    ),
    capped AS (
      SELECT * FROM (
        SELECT *, count(*) OVER (PARTITION BY band_id, band_hash) AS bsz FROM bands
      ) WHERE bsz <= {DEFAULT_MAX_BUCKET}
    ),
    lshp AS (
      SELECT DISTINCT a.id AS src, b.id AS dst
      FROM capped a JOIN capped b
        ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.id < b.id
    ),
    pfx AS (
      SELECT id, substr(id, 1, {DEFAULT_PREFIX_LEN}) AS pfx FROM idu
      WHERE length(id) >= {DEFAULT_PREFIX_LEN}
    ),
    pcap AS (
      SELECT * FROM (
        SELECT *, count(*) OVER (PARTITION BY pfx) AS bsz FROM pfx
      ) WHERE bsz <= {DEFAULT_MAX_BUCKET}
    ),
    pfxp AS (
      SELECT DISTINCT a.id AS src, b.id AS dst
      FROM pcap a JOIN pcap b ON a.pfx = b.pfx AND a.id < b.id
    ),
    cand AS (SELECT src, dst FROM lshp UNION SELECT src, dst FROM pfxp),
    edges AS (
      SELECT c.src, c.dst FROM cand c
      JOIN hsh ha ON ha.id = c.src
      JOIN hsh hb ON hb.id = c.dst
      WHERE len(list_intersect(ha.hs, hb.hs)) >= {DEFAULT_MIN_INTERSECT}
        AND CAST(len(list_intersect(ha.hs, hb.hs)) AS DOUBLE)
            / least(len(ha.hs), len(hb.hs)) >= {DEFAULT_CONTAINMENT_THRESHOLD}
    ),
    sym AS (
      SELECT src AS a, dst AS b FROM edges
      UNION ALL
      SELECT dst AS a, src AS b FROM edges
    ),
    reach(src, dst) AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a
    ),
    comp AS (
      SELECT src AS member, least(src, min(dst)) AS canonical
      FROM reach GROUP BY src
    ),
    mapping AS (
      SELECT i.id AS entity_id, coalesce(c.canonical, i.id) AS canonical_id
      FROM idu i LEFT JOIN comp c ON c.member = i.id
    ),
    surf AS (
      SELECT DISTINCT
             trim(regexp_replace(surface, '\s+', ' ', 'g')) AS name_norm,
             entity_id
      FROM occ
    ),
    sranks AS (
      SELECT sf.entity_id,
             CASE coalesce(
                    ov.override_type,
                    CASE WHEN split_part(sf.entity_id, '-', 1) IN ({kw})
                         THEN 'institution'
                         WHEN regexp_matches(sf.entity_id,
                                             '{COMPANY_SUFFIX_SLUG_RE}')
                         THEN 'company'
                         ELSE 'person' END)
               WHEN 'institution' THEN 3 WHEN 'company' THEN 2 ELSE 1
             END AS rnk
      FROM surf sf
      LEFT JOIN {_kg_seed_override_values_sql(n_pages)}
        ON sf.name_norm = ov.name_norm
    ),
    crank AS (
      SELECT mp.canonical_id, max(r.rnk) AS rnk
      FROM sranks r JOIN mapping mp ON r.entity_id = mp.entity_id
      GROUP BY mp.canonical_id
    ),
    mm AS (
      SELECT url, unnest(regexp_extract_all(text, '{MEMBERSHIP_RE}')) AS mspan
      FROM pages
    ),
    medges AS (
      SELECT {slug(f"regexp_extract(mspan, '{MEMBERSHIP_RE}', 1)")} AS person_id,
             {slug(f"regexp_extract(mspan, '{MEMBERSHIP_RE}', 3)")} AS org_id
      FROM mm
    ),
    statedim(state_name, iso_code, name_slug) AS (VALUES {statedim}),
    ia AS (
      SELECT mp.canonical_id, mp.entity_id AS alias_slug
      FROM mapping mp JOIN crank cr ON mp.canonical_id = cr.canonical_id
      WHERE cr.rnk = 3
    ),
    amatch AS (
      SELECT ia.canonical_id, sd.state_name
      FROM ia JOIN statedim sd ON ia.alias_slug LIKE '%-de-' || sd.name_slug
    ),
    regions AS (
      SELECT canonical_id, min(state_name) AS region FROM amatch
      GROUP BY canonical_id
    ),
    rcode AS (
      SELECT r.canonical_id,
             coalesce(sd2.iso_code, 'MX-' || {slug('r.region')}) AS state_code
      FROM regions r
      LEFT JOIN statedim sd2 ON sd2.name_slug = {slug('r.region')}
    ),
    prodm AS (
      SELECT url, unnest(regexp_extract_all(text, '{PRODUCT_RE}')) AS pspan
      FROM pages
    ),
    prodid AS (
      SELECT url, regexp_extract(pspan, '{PRODUCT_RE}', 1) AS pid FROM prodm
    ),
    prodt AS (
      SELECT DISTINCT url,
             CASE WHEN strpos(pid, '.') > 0 THEN pid
                  WHEN length(pid) >= 12
                  THEN substr(pid, 1, 3) || '.' || substr(pid, 4, 3) || '.'
                       || substr(pid, 7, 4) || '.' || substr(pid, 11)
                  ELSE pid END AS product_id
      FROM prodid WHERE pid <> ''
    )
    SELECT subj, pred, obj FROM (
      SELECT DISTINCT o.url AS subj, 'mentions' AS pred, mp.canonical_id AS obj
      FROM occ o JOIN mapping mp ON o.entity_id = mp.entity_id
      UNION ALL
      SELECT canonical_id AS subj, 'type' AS pred,
             CASE rnk WHEN 3 THEN 'institution'
                      WHEN 2 THEN 'company' ELSE 'person' END AS obj
      FROM crank
      UNION ALL
      SELECT entity_id AS subj, 'sameAs' AS pred, canonical_id AS obj
      FROM mapping WHERE entity_id <> canonical_id
      UNION ALL
      SELECT DISTINCT p.canonical_id AS subj, 'memberOf' AS pred,
             o2.canonical_id AS obj
      FROM medges e
      JOIN mapping p ON e.person_id = p.entity_id
      JOIN mapping o2 ON e.org_id = o2.entity_id
      WHERE e.person_id <> '' AND e.org_id <> ''
      UNION ALL
      SELECT subj, pred, obj FROM (
        SELECT canonical_id AS subj, 'inArea' AS pred, state_code AS obj
        FROM rcode
        UNION
        SELECT state_code AS subj, 'partOf' AS pred, 'mx' AS obj FROM rcode
      )
      UNION ALL
      SELECT url AS subj, 'mentionsProduct' AS pred, product_id AS obj
      FROM prodt
    )
    """


@query("kg_triples", _kg_seeded_triples_oracle_sql())
def q_kg_triples(spark, sf_dir):
    """Full KG pipeline on the deterministic seeded corpus (pages ->
    triples, classifier override applied) — now under the full value-hash
    gate via _kg_seeded_triples_oracle_sql (the page texts ride the oracle
    as a VALUES table; everything downstream recomputes in DuckDB)."""
    from ocds_entity_extract_spark.functions.classify import load_classifier_override
    from ocds_entity_extract_spark.plans.pipeline import build_triples
    from ocds_entity_extract_spark.schemas import CLASSIFIER_SCHEMA

    pages, aux = _kg_pages(spark)
    override = load_classifier_override(
        spark, spark.createDataFrame(aux["classifier_override"], schema=CLASSIFIER_SCHEMA)
    ) if aux["classifier_override"] else None
    return build_triples(spark, pages, override).triples


def _kg_seed_pages_values_ts_sql(n_pages: int = 300) -> str:
    """Seeded corpus as VALUES of (url, warc_ts, extracted text) — the
    timestamped variant for the entity-document oracle (warc_ts drives the
    first-wins name ordering)."""
    from ocds_entity_extract_spark.datagen import generate_corpus
    from ocds_entity_extract_spark.functions.html import extract_text_bytes

    pages, _, _ = generate_corpus(n_pages=n_pages, seed=42)

    def q(v: str) -> str:
        return "'" + v.replace("'", "''") + "'"

    rows = ",\n      ".join(
        "({}, TIMESTAMP '{}', {})".format(
            q(pg["url"]),
            pg["warc_ts"].strftime("%Y-%m-%d %H:%M:%S"),
            q(extract_text_bytes(pg["html"]) or ""),
        )
        for pg in pages
    )
    return f"(VALUES\n      {rows}) AS pages(url, warc_ts, text)"


def _kg_seeded_entities_oracle_sql(n_pages: int = 300) -> str:
    """DuckDB twin of the full entity-DOCUMENT assembly on the SEEDED
    corpus (the exact chain q_kg_entities runs: build_triples ->
    entity_documents WITH contact_edges): merged per-alias aggregates ->
    LSH + recursive-closure canonical mapping -> first-wins name,
    identifiers (sorted by (id, scheme), rendered scheme:id),
    subclassification chain, gov level, per-role membership counters,
    parent/member links, and CONTACT_RE page contacts attributed through
    the mention stream. Same machinery as _kg_entities_oracle_sql with
    the seeded VALUES pages and the contact branch added."""
    from ocds_entity_extract_spark.functions.classify import (
        COMPANY_SUFFIX_SLUG_RE,
        INSTITUTION_KEYWORDS,
        _slug_py,
    )
    from ocds_entity_extract_spark.functions.geo import MX_STATE_ROWS
    from ocds_entity_extract_spark.operators.linking import (
        DEFAULT_BAND_SIZE,
        DEFAULT_CONTAINMENT_THRESHOLD,
        DEFAULT_MAX_BUCKET,
        DEFAULT_MIN_INTERSECT,
        DEFAULT_NUM_HASHES,
        DEFAULT_PREFIX_LEN,
    )
    from ocds_entity_extract_spark.operators.mentions import (
        CONTACT_RE,
        MEMBERSHIP_RE,
        MENTION_RE,
    )

    kw = ", ".join(f"'{k}'" for k in INSTITUTION_KEYWORDS)
    kw_nobanco = ", ".join(
        f"'{k}'" for k in INSTITUTION_KEYWORDS if k != "banco"
    )
    sig_ctes, band_selects = _minhash_sig_ctes(
        "shw", DEFAULT_NUM_HASHES, DEFAULT_BAND_SIZE
    )
    dim_rows = [(n, c, _slug_py(n)) for n, c in MX_STATE_ROWS]
    statedim = ", ".join(f"('{n}', '{c}', '{s}')" for n, c, s in dim_rows)
    slug = lambda e: _SLUG_SQL.format(e=e)  # noqa: E731
    return rf"""
    WITH RECURSIVE norm AS (
      SELECT url, warc_ts, text FROM {_kg_seed_pages_values_ts_sql(n_pages)}
    ),
    m AS (
      SELECT url, warc_ts,
             unnest(regexp_extract_all(text, '{MENTION_RE}')) AS surface
      FROM norm
    ),
    feat AS (
      SELECT url, warc_ts,
             regexp_replace(trim(surface), '\s+', ' ', 'g') AS name_norm,
             {slug('surface')} AS entity_id,
             regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS domain
      FROM m
    ),
    typed AS (
      SELECT *,
             CASE WHEN split_part(entity_id, '-', 1) IN ({kw}) THEN 3
                  WHEN regexp_matches(entity_id, '{COMPANY_SUFFIX_SLUG_RE}') THEN 2
                  ELSE 1 END AS rank
      FROM feat WHERE entity_id <> ''
    ),
    rankedocc AS (
      SELECT *, row_number() OVER (
        PARTITION BY entity_id ORDER BY warc_ts, url, name_norm
      ) AS rn
      FROM typed
    ),
    ent AS (
      SELECT entity_id,
             max(CASE WHEN rn = 1 THEN name_norm END) AS name,
             max(rank) AS rank,
             CAST(count(*) AS BIGINT) AS mention_count,
             CAST(count(DISTINCT url) AS BIGINT) AS page_count,
             min(warc_ts) AS first_seen,
             max(warc_ts) AS last_seen,
             list_distinct(list(name_norm)) AS names,
             list_distinct(list(domain)) AS sources
      FROM rankedocc GROUP BY entity_id
    ),
    idu AS (SELECT entity_id AS id FROM ent),
    shw AS (
      SELECT id, list_distinct([substr(id, i, 3)
                 for i in range(1, greatest(length(id) - 2, 1) + 1)]) AS shingles
      FROM idu
    ),{sig_ctes},
    bands AS (
      {band_selects}
    ),
    capped AS (
      SELECT * FROM (
        SELECT *, count(*) OVER (PARTITION BY band_id, band_hash) AS bsz FROM bands
      ) WHERE bsz <= {DEFAULT_MAX_BUCKET}
    ),
    lshp AS (
      SELECT DISTINCT a.id AS src, b.id AS dst
      FROM capped a JOIN capped b
        ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.id < b.id
    ),
    pfx AS (
      SELECT id, substr(id, 1, {DEFAULT_PREFIX_LEN}) AS pfx FROM idu
      WHERE length(id) >= {DEFAULT_PREFIX_LEN}
    ),
    pcap AS (
      SELECT * FROM (
        SELECT *, count(*) OVER (PARTITION BY pfx) AS bsz FROM pfx
      ) WHERE bsz <= {DEFAULT_MAX_BUCKET}
    ),
    pfxp AS (
      SELECT DISTINCT a.id AS src, b.id AS dst
      FROM pcap a JOIN pcap b ON a.pfx = b.pfx AND a.id < b.id
    ),
    cand AS (SELECT src, dst FROM lshp UNION SELECT src, dst FROM pfxp),
    edges AS (
      SELECT c.src, c.dst FROM cand c
      JOIN hsh ha ON ha.id = c.src
      JOIN hsh hb ON hb.id = c.dst
      WHERE len(list_intersect(ha.hs, hb.hs)) >= {DEFAULT_MIN_INTERSECT}
        AND CAST(len(list_intersect(ha.hs, hb.hs)) AS DOUBLE)
            / least(len(ha.hs), len(hb.hs)) >= {DEFAULT_CONTAINMENT_THRESHOLD}
    ),
    sym AS (
      SELECT src AS a, dst AS b FROM edges
      UNION ALL
      SELECT dst AS a, src AS b FROM edges
    ),
    reach(src, dst) AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a
    ),
    comp AS (
      SELECT src AS member, least(src, min(dst)) AS canonical
      FROM reach GROUP BY src
    ),
    mapping AS (
      SELECT i.id AS entity_id, coalesce(c.canonical, i.id) AS canonical_id
      FROM idu i LEFT JOIN comp c ON c.member = i.id
    ),
    cranked AS (
      SELECT e.*, mp.canonical_id,
             row_number() OVER (
               PARTITION BY mp.canonical_id ORDER BY e.first_seen, e.entity_id
             ) AS crn
      FROM ent e JOIN mapping mp ON e.entity_id = mp.entity_id
    ),
    canon AS (
      SELECT canonical_id,
             max(CASE WHEN crn = 1 THEN name END) AS name,
             max(rank) AS rank,
             list_sort(list_distinct(flatten(list(names)))) AS all_names,
             list_sort(list(entity_id)) AS alias_slugs,
             max(nullif(regexp_extract(entity_id,
                                       '{COMPANY_SUFFIX_SLUG_RE}', 1), ''))
               AS subtype,
             CAST(sum(mention_count) AS BIGINT) AS mentions,
             CAST(sum(page_count) AS BIGINT) AS pages,
             min(first_seen) AS first_seen,
             max(last_seen) AS last_seen,
             list_sort(list_distinct(flatten(list(sources)))) AS sources
      FROM cranked GROUP BY canonical_id
    ),
    mm AS (
      SELECT url, unnest(regexp_extract_all(text, '{MEMBERSHIP_RE}')) AS mspan
      FROM norm
    ),
    medges0 AS (
      SELECT url,
             {slug(f"regexp_extract(mspan, '{MEMBERSHIP_RE}', 1)")} AS person_id,
             regexp_extract(mspan, '{MEMBERSHIP_RE}', 2) AS role,
             {slug(f"regexp_extract(mspan, '{MEMBERSHIP_RE}', 3)")} AS org_id
      FROM mm
    ),
    medges AS (
      SELECT m0.url, p.canonical_id AS member_canon, m0.role,
             o2.canonical_id AS org_canon
      FROM medges0 m0
      JOIN mapping p ON m0.person_id = p.entity_id
      JOIN mapping o2 ON m0.org_id = o2.entity_id
      WHERE m0.person_id <> '' AND m0.org_id <> ''
    ),
    as_member AS (
      SELECT member_canon AS canonical_id,
             CAST(sum(CASE WHEN role IN ('director general', 'directora general')
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_director_general,
             min(CASE WHEN org_canon <> member_canon THEN org_canon END)
               AS parent_id
      FROM medges GROUP BY member_canon
    ),
    as_parent AS (
      SELECT org_canon AS canonical_id,
             CAST(count(DISTINCT member_canon) AS BIGINT) AS member_count
      FROM medges GROUP BY org_canon
    ),
    cm AS (
      SELECT url, unnest(regexp_extract_all(text, '{CONTACT_RE}')) AS cv
      FROM norm
    ),
    contacts AS (
      SELECT DISTINCT url,
             CASE WHEN strpos(cv, '@') > 0 THEN 'email' ELSE 'tel' END AS ctype,
             cv
      FROM cm
    ),
    centity AS (
      SELECT DISTINCT mp.canonical_id, c.ctype, c.cv
      FROM (SELECT DISTINCT url, entity_id FROM typed) o
      JOIN contacts c ON c.url = o.url
      JOIN mapping mp ON mp.entity_id = o.entity_id
    ),
    ccol AS (
      SELECT canonical_id,
             array_to_string(
               [x[1] || ':' || x[2]
                for x in list_sort(list([ctype, cv]))], ',') AS contact_details
      FROM centity GROUP BY canonical_id
    ),
    statedim(state_name, iso_code, name_slug) AS (VALUES {statedim}),
    ia AS (
      SELECT c2.canonical_id, mp.entity_id AS alias_slug
      FROM canon c2 JOIN mapping mp ON mp.canonical_id = c2.canonical_id
      WHERE c2.rank = 3
    ),
    amatch AS (
      SELECT ia.canonical_id, sd.state_name
      FROM ia JOIN statedim sd ON ia.alias_slug LIKE '%-de-' || sd.name_slug
    ),
    regions AS (
      SELECT canonical_id, 'region' AS region_gov FROM amatch
      GROUP BY canonical_id
    )
    SELECT c.canonical_id AS id,
           c.name,
           CASE c.rank WHEN 3 THEN 'institution'
                       WHEN 2 THEN 'company' ELSE 'person' END AS entity_type,
           CASE c.rank WHEN 3 THEN 'institution'
                       WHEN 2 THEN 'company' ELSE 'person' END AS classification,
           coalesce(
             CASE WHEN c.rank = 3 THEN
               CASE WHEN split_part(c.canonical_id, '-', 1) = 'banco' THEN 'banco'
                    WHEN split_part(c.canonical_id, '-', 1) IN ({kw_nobanco})
                      THEN split_part(c.canonical_id, '-', 1)
                    WHEN am.parent_id IS NOT NULL THEN 'unidad-compradora'
                    ELSE 'dependencia' END
                  WHEN c.rank = 2 THEN c.subtype END, '') AS subclassification,
           CASE WHEN c.rank > 1 THEN am.parent_id END AS parent_id,
           CASE WHEN c.rank = 3 THEN
             CASE WHEN split_part(c.canonical_id, '-', 1)
                       IN ('municipio', 'ayuntamiento') THEN 'city'
                  WHEN rg.region_gov IS NOT NULL THEN rg.region_gov
                  WHEN split_part(c.canonical_id, '-', 1) = 'gobierno'
                    THEN 'region'
                  ELSE 'country' END
           END AS gov_level,
           coalesce(cc.contact_details, '') AS contact_details,
           array_to_string(
             [x[2] || ':' || x[1]
              for x in list_sort(
                [[s, 'slug'] for s in c.alias_slugs]
                || [[d, 'domain'] for d in c.sources]
                || (CASE WHEN c.rank = 3
                    AND len(list_filter(string_split(c.canonical_id, '-'),
                        t -> t NOT IN ('de','del','la','las','los','y','e')
                             AND regexp_matches(t, '^[a-z]'))) >= 2
                    THEN [[array_to_string(list_transform(
                           list_filter(string_split(c.canonical_id, '-'),
                             t -> t NOT IN ('de','del','la','las','los','y','e')
                                  AND regexp_matches(t, '^[a-z]')),
                           t -> substr(t, 1, 1)), ''), 'initials']]
                    ELSE CAST([] AS VARCHAR[][]) END))], ',') AS identifiers,
           coalesce(array_to_string(
             list_sort(list_filter(c.all_names, x -> x <> c.name)), ','
           ), '') AS other_names,
           c.mentions, c.pages,
           coalesce(am.n_director_general, 0) AS n_director_general,
           coalesce(ap.member_count, 0) AS members,
           array_to_string(c.sources, ',') AS sources
    FROM canon c
    LEFT JOIN as_member am ON am.canonical_id = c.canonical_id
    LEFT JOIN as_parent ap ON ap.canonical_id = c.canonical_id
    LEFT JOIN ccol cc ON cc.canonical_id = c.canonical_id
    LEFT JOIN regions rg ON rg.canonical_id = c.canonical_id
    """


@query("kg_entities", _kg_seeded_entities_oracle_sql())
def q_kg_entities(spark, sf_dir):
    """Canonical entity DOCUMENTS from the same corpus — the full output
    doc assembly (subclassification, identifiers, parent_id, per-role
    counters), arrays stringified per the repo convention."""
    from ocds_entity_extract_spark.plans.documents import entity_documents
    from ocds_entity_extract_spark.plans.pipeline import build_triples

    pages, _ = _kg_pages(spark)
    res = build_triples(spark, pages)
    docs = entity_documents(
        res.entities,
        res.mapping,
        res.member_edges,
        contact_edges=res.contact_edges,
        inst_regions=res.inst_regions,
    )
    return docs.select(
        "id",
        "name",
        "entity_type",
        F.array_join("classification", ",").alias("classification"),
        F.array_join("subclassification", ",").alias("subclassification"),
        "parent_id",
        "gov_level",
        F.array_join(
            F.transform("contact_details", lambda s: F.concat_ws(":", s.type, s.value)),
            ",",
        ).alias("contact_details"),
        F.array_join(
            F.transform("identifiers", lambda s: F.concat_ws(":", s.scheme, s.id)),
            ",",
        ).alias("identifiers"),
        F.array_join("other_names", ",").alias("other_names"),
        F.col("counters.mentions").alias("mentions"),
        F.col("counters.pages").alias("pages"),
        F.col("counters.membership_count.director_general").alias("n_director_general"),
        F.col("counters.members").alias("members"),
        F.array_join("sources", ",").alias("sources"),
    )


# =====================================================================
# KG full pipeline UNDER the value-hash gate (template corpus)
# =====================================================================
#
# `kg_merged_entities` put stages 1-4 (extract -> mention -> classify ->
# merge) under the oracle; this puts the WHOLE of plans/pipeline.build_triples
# — including the MinHash-LSH linking self-join, the iterative connected
# components, membership-edge canonicalization and the area machinery —
# under the same gate. The lever is the same: pages synthesized from
# `documents` with a KNOWN html template, so every stage has an exact
# DuckDB twin (the linking math via the portable md5-derived hash family,
# CC via a recursive transitive closure, areas via the inlined state dim).

_KG_TPL_STATES = ["Jalisco", "Sonora", "Durango", "Colima"]



def _kg_template_pages(docs):
    """documents -> deterministic template pages exercising every pipeline
    path: company aliasing (S.A. variant), a hot cross-page entity,
    place-suffixed institutions (area inference), membership sentences
    (person, role de org), plus the free-text tail."""
    d = F.col("doc_id")
    surface = F.concat(
        F.lit("Grupo Alfa"),
        (d % 50).cast("string"),
        F.when(d % 3 == 0, F.lit(" S.A.")).otherwise(F.lit("")),
    )
    hot = F.when(
        d % 10 == 0, F.lit(" También participó Grupo Alfa0 en la sesión.")
    ).otherwise(F.lit(""))
    state = F.element_at(
        F.array(*[F.lit(s) for s in _KG_TPL_STATES]), (d % 4 + 1).cast("int")
    )
    inst = F.when(
        d % 5 == 0,
        F.concat(
            F.lit("<p>Secretaría de Salud"),
            (d % 40).cast("string"),
            F.lit(" de "),
            state,
            F.lit(" informó.</p>"),
        ),
    ).otherwise(F.lit(""))
    memb = F.when(
        d % 7 == 0,
        F.concat(
            F.lit("<p>Juan Pérez"),
            (d % 30).cast("string"),
            F.lit(", presidente de Grupo Beta"),
            (d % 15).cast("string"),
            F.lit(" S.A. encabezó la reunión.</p>"),
        ),
    ).otherwise(F.lit(""))
    over = (
        F.when(d % 3 == 0, F.lit("0.00"))
        .when(d % 3 == 1, F.concat((d % 4).cast("string"), F.lit(".25")))
        .otherwise(F.lit("-1.75"))
    )
    prod = F.when(
        d % 6 == 0,
        F.concat(
            F.lit("<p>Producto 4401"),
            F.lpad((d % 25).cast("string"), 4, "0"),
            F.lit("23456: material de curación, "),
            (d % 9 + 1).cast("string"),
            F.lit(" unidades a $"),
            (d % 7 + 5).cast("string"),
            F.lit(".50 con sobreprecio $"),
            over,
            F.lit(" y promedio $"),
            (d % 5).cast("string"),
            F.lit(".00 según el acta.</p>"),
        ),
    ).otherwise(F.lit(""))
    # person-named contact email (≙ party.contactPoint, extract.js:372-390):
    # every 15th doc — always an institution page (15 ≡ 0 mod 5), so the
    # 'funcionario' membership fires; every 30th is also a product page, so
    # the purchase_count family fires too
    contact = F.when(
        d % 15 == 0,
        F.concat(
            F.lit("<p>contacto: maria.lopez"),
            (d % 8).cast("string"),
            F.lit("@docs.example.mx para prensa.</p>"),
        ),
    ).otherwise(F.lit(""))
    html = F.encode(
        F.concat(
            F.lit(
                "<html><head><title>doc</title><script>var x=1;"
                "</script></head><body><p>hoy "
            ),
            surface,
            F.lit(" anunció resultados."),
            hot,
            F.lit("</p>"),
            inst,
            memb,
            prod,
            contact,
            F.lit("<p>"),
            F.col("text"),
            F.lit("</p></body></html>"),
        ),
        "UTF-8",
    )
    return docs.select(
        F.concat(F.lit("https://docs.example.mx/"), d.cast("string")).alias("url"),
        (
            F.lit("2025-01-01 00:00:00").cast("timestamp")
            + F.make_interval(secs=d)
        ).alias("warc_ts"),
        html.alias("html"),
        F.lit(None).cast("string").alias("text"),
    )


def _kg_triples_oracle_sql() -> str:
    """DuckDB twin of the FULL build_triples plan on the template corpus.

    Stage-for-stage: template text -> MENTION_RE extraction -> slug ->
    id universe -> char-3-gram shingles -> portable md5 hashes -> affine
    minhash signatures -> LSH bands (capped buckets) + slug-prefix blocking
    (capped) -> containment/min-intersect verification -> recursive
    transitive closure (component-min canonical, the operators/cc contract)
    -> mentions/type/sameAs triples + MEMBERSHIP_RE memberOf edges + the
    place-suffix area inference (state dim inlined as VALUES from the same
    functions/geo constants the Spark dim is built from)."""
    from ocds_entity_extract_spark.functions.classify import (
        COMPANY_SUFFIX_SLUG_RE,
        INSTITUTION_KEYWORDS,
        _slug_py,
    )
    from ocds_entity_extract_spark.functions.geo import MX_STATE_ROWS
    from ocds_entity_extract_spark.operators.linking import (
        DEFAULT_BAND_SIZE,
        DEFAULT_CONTAINMENT_THRESHOLD,
        DEFAULT_MAX_BUCKET,
        DEFAULT_MIN_INTERSECT,
        DEFAULT_NUM_HASHES,
        DEFAULT_PREFIX_LEN,
    )
    from ocds_entity_extract_spark.operators.mentions import (
        CONTACT_RE,
        MEMBERSHIP_RE,
        MENTION_RE,
        PERSON_EMAIL_RE,
        PRODUCT_RE,
    )

    kw = ", ".join(f"'{k}'" for k in INSTITUTION_KEYWORDS)
    sig_ctes, band_selects = _minhash_sig_ctes(
        "shw", DEFAULT_NUM_HASHES, DEFAULT_BAND_SIZE
    )
    state_case = (
        "CASE CAST(doc_id % 4 AS INT) "
        + " ".join(
            f"WHEN {i} THEN '{s}'" for i, s in enumerate(_KG_TPL_STATES[:-1])
        )
        + f" ELSE '{_KG_TPL_STATES[-1]}' END"
    )
    # state dim VALUES from the same constants mx_state_dim() loads
    # (canonical rows + alias rows, slug via the same translate table)
    dim_rows = [(n, c, _slug_py(n)) for n, c in MX_STATE_ROWS]
    statedim = ", ".join(
        f"('{n}', '{c}', '{s}')" for n, c, s in dim_rows
    )
    slug = lambda e: _SLUG_SQL.format(e=e)  # noqa: E731
    return rf"""
    WITH RECURSIVE pages AS (
      SELECT 'https://docs.example.mx/' || CAST(doc_id AS VARCHAR) AS url,
             'doc hoy Grupo Alfa' || CAST(doc_id % 50 AS VARCHAR)
               || (CASE WHEN doc_id % 3 = 0 THEN ' S.A.' ELSE '' END)
               || ' anunció resultados.'
               || (CASE WHEN doc_id % 10 = 0
                   THEN ' También participó Grupo Alfa0 en la sesión.'
                   ELSE '' END)
               || (CASE WHEN doc_id % 5 = 0
                   THEN ' Secretaría de Salud' || CAST(doc_id % 40 AS VARCHAR)
                        || ' de ' || {state_case} || ' informó.'
                   ELSE '' END)
               || (CASE WHEN doc_id % 7 = 0
                   THEN ' Juan Pérez' || CAST(doc_id % 30 AS VARCHAR)
                        || ', presidente de Grupo Beta'
                        || CAST(doc_id % 15 AS VARCHAR)
                        || ' S.A. encabezó la reunión.'
                   ELSE '' END)
               || (CASE WHEN doc_id % 6 = 0
                   THEN ' Producto 4401'
                        || lpad(CAST(doc_id % 25 AS VARCHAR), 4, '0')
                        || '23456: material de curación, '
                        || CAST(doc_id % 9 + 1 AS VARCHAR)
                        || ' unidades a $' || CAST(doc_id % 7 + 5 AS VARCHAR)
                        || '.50 con sobreprecio $'
                        || (CASE WHEN doc_id % 3 = 0 THEN '0.00'
                                 WHEN doc_id % 3 = 1
                                 THEN CAST(doc_id % 4 AS VARCHAR) || '.25'
                                 ELSE '-1.75' END)
                        || ' y promedio $' || CAST(doc_id % 5 AS VARCHAR)
                        || '.00 según el acta.'
                   ELSE '' END)
               || (CASE WHEN doc_id % 15 = 0
                   THEN ' contacto: maria.lopez' || CAST(doc_id % 8 AS VARCHAR)
                        || '@docs.example.mx para prensa.'
                   ELSE '' END)
               || ' ' || text AS text
      FROM documents
    ),
    norm AS (
      SELECT url, trim(regexp_replace(text, '\s+', ' ', 'g')) AS text FROM pages
    ),
    m AS (
      SELECT url, unnest(regexp_extract_all(text, '{MENTION_RE}')) AS surface
      FROM norm
    ),
    occ AS (
      SELECT url, {slug('surface')} AS entity_id FROM m
      WHERE {slug('surface')} <> ''
    ),
    idu AS (SELECT DISTINCT entity_id AS id FROM occ),
    shw AS (
      SELECT id, list_distinct([substr(id, i, 3)
                 for i in range(1, greatest(length(id) - 2, 1) + 1)]) AS shingles
      FROM idu
    ),{sig_ctes},
    bands AS (
      {band_selects}
    ),
    capped AS (
      SELECT * FROM (
        SELECT *, count(*) OVER (PARTITION BY band_id, band_hash) AS bsz FROM bands
      ) WHERE bsz <= {DEFAULT_MAX_BUCKET}
    ),
    lshp AS (
      SELECT DISTINCT a.id AS src, b.id AS dst
      FROM capped a JOIN capped b
        ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.id < b.id
    ),
    pfx AS (
      SELECT id, substr(id, 1, {DEFAULT_PREFIX_LEN}) AS pfx FROM idu
      WHERE length(id) >= {DEFAULT_PREFIX_LEN}
    ),
    pcap AS (
      SELECT * FROM (
        SELECT *, count(*) OVER (PARTITION BY pfx) AS bsz FROM pfx
      ) WHERE bsz <= {DEFAULT_MAX_BUCKET}
    ),
    pfxp AS (
      SELECT DISTINCT a.id AS src, b.id AS dst
      FROM pcap a JOIN pcap b ON a.pfx = b.pfx AND a.id < b.id
    ),
    cand AS (SELECT src, dst FROM lshp UNION SELECT src, dst FROM pfxp),
    edges AS (
      SELECT c.src, c.dst FROM cand c
      JOIN hsh ha ON ha.id = c.src
      JOIN hsh hb ON hb.id = c.dst
      WHERE len(list_intersect(ha.hs, hb.hs)) >= {DEFAULT_MIN_INTERSECT}
        AND CAST(len(list_intersect(ha.hs, hb.hs)) AS DOUBLE)
            / least(len(ha.hs), len(hb.hs)) >= {DEFAULT_CONTAINMENT_THRESHOLD}
    ),
    sym AS (
      SELECT src AS a, dst AS b FROM edges
      UNION ALL
      SELECT dst AS a, src AS b FROM edges
    ),
    reach(src, dst) AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a
    ),
    comp AS (
      SELECT src AS member, least(src, min(dst)) AS canonical
      FROM reach GROUP BY src
    ),
    mapping AS (
      SELECT i.id AS entity_id, coalesce(c.canonical, i.id) AS canonical_id
      FROM idu i LEFT JOIN comp c ON c.member = i.id
    ),
    ranks AS (
      SELECT id AS entity_id,
             CASE WHEN split_part(id, '-', 1) IN ({kw}) THEN 3
                  WHEN regexp_matches(id, '{COMPANY_SUFFIX_SLUG_RE}') THEN 2
                  ELSE 1 END AS rnk
      FROM idu
    ),
    crank AS (
      SELECT mp.canonical_id, max(r.rnk) AS rnk
      FROM ranks r JOIN mapping mp ON r.entity_id = mp.entity_id
      GROUP BY mp.canonical_id
    ),
    mm AS (
      SELECT url, unnest(regexp_extract_all(text, '{MEMBERSHIP_RE}')) AS mspan
      FROM norm
    ),
    medges AS (
      SELECT {slug(f"regexp_extract(mspan, '{MEMBERSHIP_RE}', 1)")} AS person_id,
             {slug(f"regexp_extract(mspan, '{MEMBERSHIP_RE}', 3)")} AS org_id
      FROM mm
    ),
    statedim(state_name, iso_code, name_slug) AS (VALUES {statedim}),
    ia AS (
      SELECT mp.canonical_id, mp.entity_id AS alias_slug
      FROM mapping mp JOIN crank cr ON mp.canonical_id = cr.canonical_id
      WHERE cr.rnk = 3
    ),
    amatch AS (
      SELECT ia.canonical_id, sd.state_name
      FROM ia JOIN statedim sd ON ia.alias_slug LIKE '%-de-' || sd.name_slug
    ),
    regions AS (
      SELECT canonical_id, min(state_name) AS region FROM amatch
      GROUP BY canonical_id
    ),
    rcode AS (
      SELECT r.canonical_id,
             coalesce(sd2.iso_code, 'MX-' || {slug('r.region')}) AS state_code
      FROM regions r
      LEFT JOIN statedim sd2 ON sd2.name_slug = {slug('r.region')}
    ),
    prodm AS (
      SELECT url, unnest(regexp_extract_all(text, '{PRODUCT_RE}')) AS pspan
      FROM norm
    ),
    prodid AS (
      SELECT url, regexp_extract(pspan, '{PRODUCT_RE}', 1) AS pid FROM prodm
    ),
    prodt AS (
      SELECT DISTINCT url,
             CASE WHEN strpos(pid, '.') > 0 THEN pid
                  WHEN length(pid) >= 12
                  THEN substr(pid, 1, 3) || '.' || substr(pid, 4, 3) || '.'
                       || substr(pid, 7, 4) || '.' || substr(pid, 11)
                  ELSE pid END AS product_id
      FROM prodid WHERE pid <> ''
    ),
    cmail AS (
      SELECT url, unnest(regexp_extract_all(text, '{CONTACT_RE}')) AS cspan
      FROM norm
    ),
    cp AS (
      SELECT DISTINCT url,
             regexp_extract(cspan, '{PERSON_EMAIL_RE}', 1) || '-'
               || regexp_extract(cspan, '{PERSON_EMAIL_RE}', 2) AS person_slug
      FROM cmail WHERE regexp_matches(cspan, '{PERSON_EMAIL_RE}')
    ),
    pinst AS (
      SELECT DISTINCT o.url, mp.canonical_id AS org_canon
      FROM occ o
      JOIN mapping mp ON o.entity_id = mp.entity_id
      JOIN crank cr ON cr.canonical_id = mp.canonical_id AND cr.rnk = 3
      WHERE o.url IN (SELECT url FROM cp)
    ),
    fedges AS (
      SELECT DISTINCT coalesce(mp.canonical_id, c.person_slug) AS member_canon,
             pi.org_canon
      FROM cp c
      JOIN pinst pi ON pi.url = c.url
      LEFT JOIN mapping mp ON mp.entity_id = c.person_slug
    ),
    cpnew AS (
      SELECT DISTINCT person_slug FROM cp
      WHERE person_slug NOT IN (SELECT entity_id FROM mapping)
    )
    SELECT subj, pred, obj FROM (
      SELECT DISTINCT o.url AS subj, 'mentions' AS pred, mp.canonical_id AS obj
      FROM occ o JOIN mapping mp ON o.entity_id = mp.entity_id
      UNION ALL
      SELECT canonical_id AS subj, 'type' AS pred,
             CASE rnk WHEN 3 THEN 'institution'
                      WHEN 2 THEN 'company' ELSE 'person' END AS obj
      FROM crank
      UNION ALL
      SELECT person_slug AS subj, 'type' AS pred, 'person' AS obj FROM cpnew
      UNION ALL
      SELECT entity_id AS subj, 'sameAs' AS pred, canonical_id AS obj
      FROM mapping WHERE entity_id <> canonical_id
      UNION ALL
      SELECT DISTINCT subj, pred, obj FROM (
        SELECT p.canonical_id AS subj, 'memberOf' AS pred,
               o2.canonical_id AS obj
        FROM medges e
        JOIN mapping p ON e.person_id = p.entity_id
        JOIN mapping o2 ON e.org_id = o2.entity_id
        WHERE e.person_id <> '' AND e.org_id <> ''
        UNION ALL
        SELECT member_canon AS subj, 'memberOf' AS pred, org_canon AS obj
        FROM fedges
      )
      UNION ALL
      SELECT subj, pred, obj FROM (
        SELECT canonical_id AS subj, 'inArea' AS pred, state_code AS obj
        FROM rcode
        UNION
        SELECT state_code AS subj, 'partOf' AS pred, 'mx' AS obj FROM rcode
      )
      UNION ALL
      SELECT url AS subj, 'mentionsProduct' AS pred, product_id AS obj
      FROM prodt
    )
    """


@query("kg_pipeline_triples", _kg_triples_oracle_sql())
def q_kg_pipeline_triples(spark, sf_dir):
    """THE flagship chain end-to-end under the full value-hash gate:
    documents -> template pages -> real build_triples (fused pandas-UDF
    extraction, dictionary-encoded classify, merge, MinHash-LSH linking,
    connected components, membership + area edges, triple assembly) — the
    exact plan `entry()` runs, compared triple-for-triple against the
    DuckDB twin in _kg_triples_oracle_sql."""
    from ocds_entity_extract_spark.plans.pipeline import build_triples

    docs = _t(spark, sf_dir, "documents")
    return build_triples(spark, _kg_template_pages(docs)).triples


def _kg_entities_oracle_sql() -> str:
    """DuckDB twin of the flagship ENTITY-DOCUMENT assembly on the template
    corpus (plans/documents.entity_documents over the full build_triples
    result): merged per-entity aggregates -> LSH+closure canonical mapping
    -> canonical-group name/other_names/identifiers/counters -> membership
    role buckets + parent/member counts -> subclassification chain + gov
    level. Shares the template/page/linking CTE text with
    _kg_triples_oracle_sql (same constants, same hash family)."""
    from ocds_entity_extract_spark.functions.classify import (
        COMPANY_SUFFIX_SLUG_RE,
        INSTITUTION_KEYWORDS,
        _slug_py,
    )
    from ocds_entity_extract_spark.functions.geo import MX_STATE_ROWS
    from ocds_entity_extract_spark.operators.linking import (
        DEFAULT_BAND_SIZE,
        DEFAULT_CONTAINMENT_THRESHOLD,
        DEFAULT_MAX_BUCKET,
        DEFAULT_MIN_INTERSECT,
        DEFAULT_NUM_HASHES,
        DEFAULT_PREFIX_LEN,
    )
    from ocds_entity_extract_spark.operators.mentions import (
        CONTACT_RE,
        MEMBERSHIP_RE,
        MENTION_RE,
        PERSON_EMAIL_RE,
        PRODUCT_RE,
    )
    from ocds_entity_extract_spark.queries import TS_FMT_DUCK

    kw = ", ".join(f"'{k}'" for k in INSTITUTION_KEYWORDS)
    kw_nobanco = ", ".join(
        f"'{k}'" for k in INSTITUTION_KEYWORDS if k != "banco"
    )
    sig_ctes, band_selects = _minhash_sig_ctes(
        "shw", DEFAULT_NUM_HASHES, DEFAULT_BAND_SIZE
    )
    state_case = (
        "CASE CAST(doc_id % 4 AS INT) "
        + " ".join(
            f"WHEN {i} THEN '{s}'" for i, s in enumerate(_KG_TPL_STATES[:-1])
        )
        + f" ELSE '{_KG_TPL_STATES[-1]}' END"
    )
    dim_rows = [(n, c, _slug_py(n)) for n, c in MX_STATE_ROWS]
    statedim = ", ".join(f"('{n}', '{c}', '{s}')" for n, c, s in dim_rows)
    slug = lambda e: _SLUG_SQL.format(e=e)  # noqa: E731
    return rf"""
    WITH RECURSIVE pages AS (
      SELECT 'https://docs.example.mx/' || CAST(doc_id AS VARCHAR) AS url,
             TIMESTAMP '2025-01-01 00:00:00'
               + doc_id * INTERVAL 1 SECOND AS warc_ts,
             'doc hoy Grupo Alfa' || CAST(doc_id % 50 AS VARCHAR)
               || (CASE WHEN doc_id % 3 = 0 THEN ' S.A.' ELSE '' END)
               || ' anunció resultados.'
               || (CASE WHEN doc_id % 10 = 0
                   THEN ' También participó Grupo Alfa0 en la sesión.'
                   ELSE '' END)
               || (CASE WHEN doc_id % 5 = 0
                   THEN ' Secretaría de Salud' || CAST(doc_id % 40 AS VARCHAR)
                        || ' de ' || {state_case} || ' informó.'
                   ELSE '' END)
               || (CASE WHEN doc_id % 7 = 0
                   THEN ' Juan Pérez' || CAST(doc_id % 30 AS VARCHAR)
                        || ', presidente de Grupo Beta'
                        || CAST(doc_id % 15 AS VARCHAR)
                        || ' S.A. encabezó la reunión.'
                   ELSE '' END)
               || (CASE WHEN doc_id % 6 = 0
                   THEN ' Producto 4401'
                        || lpad(CAST(doc_id % 25 AS VARCHAR), 4, '0')
                        || '23456: material de curación, '
                        || CAST(doc_id % 9 + 1 AS VARCHAR)
                        || ' unidades a $' || CAST(doc_id % 7 + 5 AS VARCHAR)
                        || '.50 con sobreprecio $'
                        || (CASE WHEN doc_id % 3 = 0 THEN '0.00'
                                 WHEN doc_id % 3 = 1
                                 THEN CAST(doc_id % 4 AS VARCHAR) || '.25'
                                 ELSE '-1.75' END)
                        || ' y promedio $' || CAST(doc_id % 5 AS VARCHAR)
                        || '.00 según el acta.'
                   ELSE '' END)
               || (CASE WHEN doc_id % 15 = 0
                   THEN ' contacto: maria.lopez' || CAST(doc_id % 8 AS VARCHAR)
                        || '@docs.example.mx para prensa.'
                   ELSE '' END)
               || ' ' || text AS text
      FROM documents
    ),
    norm AS (
      SELECT url, warc_ts,
             trim(regexp_replace(text, '\s+', ' ', 'g')) AS text,
             regexp_matches(text, '{PRODUCT_RE}') AS is_purchase
      FROM pages
    ),
    m AS (
      SELECT url, warc_ts,
             unnest(regexp_extract_all(text, '{MENTION_RE}')) AS surface
      FROM norm
    ),
    feat AS (
      SELECT url, warc_ts,
             regexp_replace(trim(surface), '\s+', ' ', 'g') AS name_norm,
             {slug('surface')} AS entity_id,
             regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS domain
      FROM m
    ),
    typed AS (
      SELECT *,
             CASE WHEN split_part(entity_id, '-', 1) IN ({kw}) THEN 3
                  WHEN regexp_matches(entity_id, '{COMPANY_SUFFIX_SLUG_RE}') THEN 2
                  ELSE 1 END AS rank
      FROM feat WHERE entity_id <> ''
    ),
    rankedocc AS (
      SELECT *, row_number() OVER (
        PARTITION BY entity_id ORDER BY warc_ts, url, name_norm
      ) AS rn
      FROM typed
    ),
    ent AS (
      SELECT entity_id,
             max(CASE WHEN rn = 1 THEN name_norm END) AS name,
             max(rank) AS rank,
             CAST(count(*) AS BIGINT) AS mention_count,
             CAST(count(DISTINCT url) AS BIGINT) AS page_count,
             min(warc_ts) AS first_seen,
             max(warc_ts) AS last_seen,
             list_distinct(list(name_norm)) AS names,
             list_distinct(list(domain)) AS sources
      FROM rankedocc GROUP BY entity_id
    ),
    idu AS (SELECT entity_id AS id FROM ent),
    shw AS (
      SELECT id, list_distinct([substr(id, i, 3)
                 for i in range(1, greatest(length(id) - 2, 1) + 1)]) AS shingles
      FROM idu
    ),{sig_ctes},
    bands AS (
      {band_selects}
    ),
    capped AS (
      SELECT * FROM (
        SELECT *, count(*) OVER (PARTITION BY band_id, band_hash) AS bsz FROM bands
      ) WHERE bsz <= {DEFAULT_MAX_BUCKET}
    ),
    lshp AS (
      SELECT DISTINCT a.id AS src, b.id AS dst
      FROM capped a JOIN capped b
        ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.id < b.id
    ),
    pfx AS (
      SELECT id, substr(id, 1, {DEFAULT_PREFIX_LEN}) AS pfx FROM idu
      WHERE length(id) >= {DEFAULT_PREFIX_LEN}
    ),
    pcap AS (
      SELECT * FROM (
        SELECT *, count(*) OVER (PARTITION BY pfx) AS bsz FROM pfx
      ) WHERE bsz <= {DEFAULT_MAX_BUCKET}
    ),
    pfxp AS (
      SELECT DISTINCT a.id AS src, b.id AS dst
      FROM pcap a JOIN pcap b ON a.pfx = b.pfx AND a.id < b.id
    ),
    cand AS (SELECT src, dst FROM lshp UNION SELECT src, dst FROM pfxp),
    edges AS (
      SELECT c.src, c.dst FROM cand c
      JOIN hsh ha ON ha.id = c.src
      JOIN hsh hb ON hb.id = c.dst
      WHERE len(list_intersect(ha.hs, hb.hs)) >= {DEFAULT_MIN_INTERSECT}
        AND CAST(len(list_intersect(ha.hs, hb.hs)) AS DOUBLE)
            / least(len(ha.hs), len(hb.hs)) >= {DEFAULT_CONTAINMENT_THRESHOLD}
    ),
    sym AS (
      SELECT src AS a, dst AS b FROM edges
      UNION ALL
      SELECT dst AS a, src AS b FROM edges
    ),
    reach(src, dst) AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a
    ),
    comp AS (
      SELECT src AS member, least(src, min(dst)) AS canonical
      FROM reach GROUP BY src
    ),
    mapping AS (
      SELECT i.id AS entity_id, coalesce(c.canonical, i.id) AS canonical_id
      FROM idu i LEFT JOIN comp c ON c.member = i.id
    ),
    cranked AS (
      SELECT e.*, mp.canonical_id,
             row_number() OVER (
               PARTITION BY mp.canonical_id ORDER BY e.first_seen, e.entity_id
             ) AS crn
      FROM ent e JOIN mapping mp ON e.entity_id = mp.entity_id
    ),
    canon AS (
      SELECT canonical_id,
             max(CASE WHEN crn = 1 THEN name END) AS name,
             max(rank) AS rank,
             list_sort(list_distinct(flatten(list(names)))) AS all_names,
             list_sort(list(entity_id)) AS alias_slugs,
             max(nullif(regexp_extract(entity_id,
                                       '{COMPANY_SUFFIX_SLUG_RE}', 1), ''))
               AS subtype,
             CAST(sum(mention_count) AS BIGINT) AS mentions,
             CAST(sum(page_count) AS BIGINT) AS pages,
             min(first_seen) AS first_seen,
             max(last_seen) AS last_seen,
             list_sort(list_distinct(flatten(list(sources)))) AS sources
      FROM cranked GROUP BY canonical_id
    ),
    mm AS (
      SELECT url, is_purchase,
             unnest(regexp_extract_all(text, '{MEMBERSHIP_RE}')) AS mspan
      FROM norm
    ),
    medges0 AS (
      SELECT url, is_purchase,
             {slug(f"regexp_extract(mspan, '{MEMBERSHIP_RE}', 1)")} AS person_id,
             regexp_extract(mspan, '{MEMBERSHIP_RE}', 2) AS role,
             {slug(f"regexp_extract(mspan, '{MEMBERSHIP_RE}', 3)")} AS org_id
      FROM mm
    ),
    medges AS (
      SELECT m0.url, p.canonical_id AS member_canon, m0.role,
             o2.canonical_id AS org_canon, m0.is_purchase
      FROM medges0 m0
      JOIN mapping p ON m0.person_id = p.entity_id
      JOIN mapping o2 ON m0.org_id = o2.entity_id
      WHERE m0.person_id <> '' AND m0.org_id <> ''
    ),
    cmail AS (
      SELECT url, warc_ts, is_purchase,
             regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS domain,
             unnest(regexp_extract_all(text, '{CONTACT_RE}')) AS cspan
      FROM norm
    ),
    cpe AS (
      SELECT DISTINCT url, warc_ts, domain, is_purchase,
             regexp_extract(cspan, '{PERSON_EMAIL_RE}', 1) || '-'
               || regexp_extract(cspan, '{PERSON_EMAIL_RE}', 2) AS person_slug,
             upper(substr(regexp_extract(cspan, '{PERSON_EMAIL_RE}', 1), 1, 1))
               || substr(regexp_extract(cspan, '{PERSON_EMAIL_RE}', 1), 2)
               || ' '
               || upper(substr(regexp_extract(cspan, '{PERSON_EMAIL_RE}', 2), 1, 1))
               || substr(regexp_extract(cspan, '{PERSON_EMAIL_RE}', 2), 2)
               AS person_name
      FROM cmail WHERE regexp_matches(cspan, '{PERSON_EMAIL_RE}')
    ),
    pinst AS (
      SELECT DISTINCT t.url, mp.canonical_id AS org_canon
      FROM typed t
      JOIN mapping mp ON t.entity_id = mp.entity_id
      JOIN (SELECT canonical_id, max(rank) AS rnk FROM cranked
            GROUP BY canonical_id) cr
        ON cr.canonical_id = mp.canonical_id AND cr.rnk = 3
      WHERE t.url IN (SELECT url FROM cpe)
    ),
    fedges AS (
      SELECT DISTINCT c.url,
             coalesce(mp.canonical_id, c.person_slug) AS member_canon,
             'funcionario' AS role, pi.org_canon, c.is_purchase
      FROM cpe c
      JOIN pinst pi ON pi.url = c.url
      LEFT JOIN mapping mp ON mp.entity_id = c.person_slug
    ),
    medges_all AS (
      SELECT url, member_canon, role, org_canon, is_purchase FROM medges
      UNION ALL
      SELECT url, member_canon, role, org_canon, is_purchase FROM fedges
    ),
    cpnew AS (
      SELECT person_slug AS canonical_id,
             min(person_name) AS name,
             1 AS rank,
             [min(person_name)] AS all_names,
             [person_slug] AS alias_slugs,
             CAST(NULL AS VARCHAR) AS subtype,
             CAST(0 AS BIGINT) AS mentions,
             CAST(count(DISTINCT url) AS BIGINT) AS pages,
             min(warc_ts) AS first_seen,
             max(warc_ts) AS last_seen,
             list_sort(list_distinct(list(domain))) AS sources
      FROM cpe
      WHERE person_slug NOT IN (SELECT entity_id FROM mapping)
      GROUP BY person_slug
    ),
    canon2 AS (
      SELECT canonical_id, name, rank, all_names, alias_slugs, subtype,
             mentions, pages, first_seen, last_seen, sources
      FROM canon
      UNION ALL
      SELECT canonical_id, name, rank, all_names, alias_slugs, subtype,
             mentions, pages, first_seen, last_seen, sources
      FROM cpnew
    ),
    as_member AS (
      SELECT member_canon AS canonical_id,
             CAST(sum(CASE WHEN role IN ('director general', 'directora general')
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_director_general,
             CAST(sum(CASE WHEN role = 'titular' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_titular,
             CAST(sum(CASE WHEN role IN ('presidente', 'presidenta')
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_presidente,
             CAST(sum(CASE WHEN role = 'gerente' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_gerente,
             CAST(sum(CASE WHEN role = 'funcionario' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_funcionario,
             CAST(sum(CASE WHEN role = 'funcionario' AND NOT is_purchase
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_funcionario_contract,
             CAST(sum(CASE WHEN role = 'funcionario' AND is_purchase
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_funcionario_purchase,
             CAST(sum(CASE WHEN role IN ('presidente', 'presidenta')
                      AND NOT is_purchase
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_presidente_contract,
             CAST(sum(CASE WHEN role IN ('presidente', 'presidenta')
                      AND is_purchase
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_presidente_purchase,
             min(CASE WHEN org_canon <> member_canon THEN org_canon END)
               AS parent_id
      FROM medges_all GROUP BY member_canon
    ),
    as_parent AS (
      SELECT org_canon AS canonical_id,
             CAST(count(DISTINCT member_canon) AS BIGINT) AS member_count
      FROM medges_all GROUP BY org_canon
    ),
    statedim(state_name, iso_code, name_slug) AS (VALUES {statedim}),
    ia AS (
      SELECT c2.canonical_id, mp.entity_id AS alias_slug
      FROM canon c2 JOIN mapping mp ON mp.canonical_id = c2.canonical_id
      WHERE c2.rank = 3
    ),
    amatch AS (
      SELECT ia.canonical_id, sd.state_name
      FROM ia JOIN statedim sd ON ia.alias_slug LIKE '%-de-' || sd.name_slug
    ),
    regions AS (
      SELECT canonical_id, 'region' AS region_gov FROM amatch
      GROUP BY canonical_id
    )
    SELECT c.canonical_id AS id,
           c.name,
           CASE c.rank WHEN 3 THEN 'institution'
                       WHEN 2 THEN 'company' ELSE 'person' END AS entity_type,
           CASE c.rank WHEN 3 THEN 'institution'
                       WHEN 2 THEN 'company' ELSE 'person' END
             || CASE WHEN coalesce(am.n_funcionario, 0) > 0
                     THEN ',funcionario' ELSE '' END AS classification,
           coalesce(
             CASE WHEN c.rank = 3 THEN
               CASE WHEN split_part(c.canonical_id, '-', 1) = 'banco' THEN 'banco'
                    WHEN split_part(c.canonical_id, '-', 1) IN ({kw_nobanco})
                      THEN split_part(c.canonical_id, '-', 1)
                    WHEN am.parent_id IS NOT NULL THEN 'unidad-compradora'
                    ELSE 'dependencia' END
                  WHEN c.rank = 2 THEN c.subtype END, '') AS subclassification,
           CASE WHEN c.rank > 1 THEN am.parent_id END AS parent_id,
           CASE WHEN c.rank = 3 THEN
             CASE WHEN split_part(c.canonical_id, '-', 1)
                       IN ('municipio', 'ayuntamiento') THEN 'city'
                  WHEN rg.region_gov IS NOT NULL THEN rg.region_gov
                  WHEN split_part(c.canonical_id, '-', 1) = 'gobierno'
                    THEN 'region'
                  ELSE 'country' END
           END AS gov_level,
           array_to_string(list_sort(list_distinct(
             [s || '|slug' for s in c.alias_slugs]
             || [d || '|domain' for d in c.sources]
             || (CASE WHEN c.rank = 3
                 AND len(list_filter(string_split(c.canonical_id, '-'),
                     t -> t NOT IN ('de','del','la','las','los','y','e')
                          AND regexp_matches(t, '^[a-z]'))) >= 2
                 THEN [array_to_string(list_transform(
                        list_filter(string_split(c.canonical_id, '-'),
                          t -> t NOT IN ('de','del','la','las','los','y','e')
                               AND regexp_matches(t, '^[a-z]')),
                        t -> substr(t, 1, 1)), '') || '|initials']
                 ELSE CAST([] AS VARCHAR[]) END))), ',') AS identifiers,
           coalesce(array_to_string(
             list_sort(list_filter(c.all_names, x -> x <> c.name)), ','
           ), '') AS other_names,
           c.mentions, c.pages,
           coalesce(am.n_director_general, 0) AS n_director_general,
           coalesce(am.n_titular, 0) AS n_titular,
           coalesce(am.n_presidente, 0) AS n_presidente,
           coalesce(am.n_gerente, 0) AS n_gerente,
           coalesce(am.n_funcionario, 0) AS n_funcionario,
           coalesce(am.n_funcionario_contract, 0) AS n_funcionario_contract,
           coalesce(am.n_funcionario_purchase, 0) AS n_funcionario_purchase,
           coalesce(am.n_presidente_contract, 0) AS n_presidente_contract,
           coalesce(am.n_presidente_purchase, 0) AS n_presidente_purchase,
           coalesce(ap.member_count, 0) AS members,
           array_to_string(c.sources, ',') AS sources,
           strftime(c.first_seen, '{TS_FMT_DUCK}') AS first_seen,
           strftime(c.last_seen, '{TS_FMT_DUCK}') AS last_seen
    FROM canon2 c
    LEFT JOIN as_member am ON am.canonical_id = c.canonical_id
    LEFT JOIN as_parent ap ON ap.canonical_id = c.canonical_id
    LEFT JOIN regions rg ON rg.canonical_id = c.canonical_id
    """


@query("kg_pipeline_entities", _kg_entities_oracle_sql())
def q_kg_pipeline_entities(spark, sf_dir):
    """The flagship's OTHER output surface — canonical entity DOCUMENTS
    (plans/documents.entity_documents: name first-wins across the alias
    group, identifiers arrays, subclassification chain, per-role
    membership counters, parent/member links, gov level) — under the full
    value-hash gate on the template corpus. Together with
    kg_pipeline_triples this puts BOTH pipeline outputs end-to-end under
    the DuckDB oracle."""
    from ocds_entity_extract_spark.plans.documents import entity_documents
    from ocds_entity_extract_spark.plans.pipeline import build_triples

    docs = _t(spark, sf_dir, "documents")
    res = build_triples(spark, _kg_template_pages(docs))
    d = entity_documents(
        res.entities,
        res.mapping,
        res.member_edges,
        contact_edges=None,
        inst_regions=res.inst_regions,
        contact_persons=res.contact_persons,
    )
    return d.select(
        "id",
        "name",
        "entity_type",
        F.array_join("classification", ",").alias("classification"),
        F.array_join("subclassification", ",").alias("subclassification"),
        "parent_id",
        "gov_level",
        F.array_join(
            F.array_sort(
                F.transform(
                    "identifiers", lambda s: F.concat_ws("|", s.id, s.scheme)
                )
            ),
            ",",
        ).alias("identifiers"),
        F.array_join("other_names", ",").alias("other_names"),
        F.col("counters.mentions").alias("mentions"),
        F.col("counters.pages").alias("pages"),
        F.col("counters.membership_count.director_general").alias(
            "n_director_general"
        ),
        F.col("counters.membership_count.titular").alias("n_titular"),
        F.col("counters.membership_count.presidente").alias("n_presidente"),
        F.col("counters.membership_count.gerente").alias("n_gerente"),
        F.col("counters.membership_count.funcionario").alias("n_funcionario"),
        F.col("counters.contract_count.funcionario").alias(
            "n_funcionario_contract"
        ),
        F.col("counters.purchase_count.funcionario").alias(
            "n_funcionario_purchase"
        ),
        F.col("counters.contract_count.presidente").alias(
            "n_presidente_contract"
        ),
        F.col("counters.purchase_count.presidente").alias(
            "n_presidente_purchase"
        ),
        F.col("counters.members").alias("members"),
        F.array_join("sources", ",").alias("sources"),
        F.date_format("first_seen", TS_FMT_SPARK).alias("first_seen"),
        F.date_format("last_seen", TS_FMT_SPARK).alias("last_seen"),
    )


def _embed_neardup_lsh_oracle_sql(
    dim: int = 64, n_planes: int = 4, seed: int = 7, threshold: float = 0.45
) -> str:
    """DuckDB twin of the LSH-bucketed embedding near-dup: the same seeded
    hyperplane literals -> sign bucket -> bucket-local self-join -> cosine
    verify (the _ann_lsh_oracle_sql bucket construction, applied to
    pairwise dedup instead of top-k)."""
    from ocds_entity_extract_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(dim, n_planes, seed)
    cases = "\n           + ".join(
        f"CASE WHEN list_dot_product(embedding, {[round(x, 17) for x in p]}) > 0 "
        f"THEN {1 << i} ELSE 0 END"
        for i, p in enumerate(planes)
    )
    return f"""
    WITH b AS (
      SELECT vec_id, embedding,
             ({cases}) AS bucket
      FROM embeddings
    )
    SELECT a.vec_id AS vid_a, x.vec_id AS vid_b,
           round(list_cosine_similarity(a.embedding, x.embedding), 3) AS score
    FROM b a JOIN b x ON a.bucket = x.bucket AND a.vec_id < x.vec_id
    WHERE round(list_cosine_similarity(a.embedding, x.embedding), 3)
          >= {threshold}
    """


def _bucket_centroids_oracle_sql(
    dim: int = 64, n_planes: int = 4, seed: int = 7
) -> str:
    """DuckDB twin of per-LSH-bucket embedding centroids: same seeded
    hyperplane sign bucket, then positional mean per bucket."""
    from ocds_entity_extract_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(dim, n_planes, seed)
    cases = "\n           + ".join(
        f"CASE WHEN list_dot_product(embedding, {[round(x, 17) for x in p]}) > 0 "
        f"THEN {1 << i} ELSE 0 END"
        for i, p in enumerate(planes)
    )
    return f"""
    WITH b AS (
      SELECT embedding, ({cases}) AS bucket FROM embeddings
    ),
    px AS (
      SELECT bucket,
             unnest([{{'p': i - 1, 'v': embedding[i]}}
                     for i in range(1, len(embedding) + 1)],
                    recursive := true)
      FROM b
    )
    SELECT bucket, p AS pos,
           round(avg(v), 4) + 0.0 AS c,  -- +0.0 folds IEEE -0.0 to 0.0
           CAST(count(*) AS BIGINT) AS n_vecs
    FROM px GROUP BY bucket, p
    """


@query("embedding_bucket_centroids", _bucket_centroids_oracle_sql())
def q_embedding_bucket_centroids(spark, sf_dir):
    """Per-LSH-bucket embedding centroids — the coarse-quantizer training
    step an IVF index build runs over the corpus (and the aggregation shape
    of any 'mean vector per cluster' stage). posexplode -> (bucket, pos)
    hash-agg: ONE shuffle with map-side combine, never a collect_list of
    vectors per bucket — state per reducer key is a running (sum, count),
    so a billion-vector bucket costs the same per-key memory as a ten-vector
    one. Output stays positional (bucket, pos, mean) so no array
    re-assembly rides the plan."""
    from ocds_entity_extract_spark.operators.similarity import with_lsh_bucket

    e = _t(spark, sf_dir, "embeddings")
    b = with_lsh_bucket(e, "embedding", dim=EMBEDDING_DIM, n_planes=4)
    pos = b.select("bucket", F.posexplode("embedding").alias("pos", "v"))
    return pos.groupBy("bucket", "pos").agg(
        # +0.0 folds IEEE -0.0 to 0.0 (engines disagree on the sign of a
        # rounded-to-zero negative mean; the value hash compares strings)
        (F.round(F.avg("v"), 4) + F.lit(0.0)).alias("c"),
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
    )


@query("dedup_near_embedding_lsh", _embed_neardup_lsh_oracle_sql(dim=EMBEDDING_DIM))
def q_dedup_near_embedding_lsh(spark, sf_dir):
    """Embedding near-dup with LSH-bucket blocking — the 100 TB version of
    q:dedup_near_embedding (label-blocking degenerates when one label
    dominates; hyperplane buckets bound every block at ~n/2^planes
    regardless of label skew). Same seeded hyperplanes as the ANN family,
    so the DuckDB twin reproduces bucket assignment exactly; candidates
    are verified by exact cosine inside the bucket."""
    from ocds_entity_extract_spark.operators.similarity import with_lsh_bucket

    e = _t(spark, sf_dir, "embeddings")
    b = with_lsh_bucket(e, "embedding", dim=EMBEDDING_DIM, n_planes=4)
    a = b.select(
        "bucket", F.col("vec_id").alias("vid_a"), F.col("embedding").alias("va")
    )
    x = b.select(
        "bucket", F.col("vec_id").alias("vid_b"), F.col("embedding").alias("vb")
    )
    score = F.round(cosine(F.col("va"), F.col("vb")), 3)
    return (
        a.join(x, "bucket")
        .filter(F.col("vid_a") < F.col("vid_b"))
        .withColumn("score", score)
        .filter(F.col("score") >= 0.45)
        .select("vid_a", "vid_b", "score")
    )


def _kg_tpl_text_sql() -> str:
    """The template page text as one DuckDB expression — the same segments
    `_kg_template_pages` concatenates (company surface + hot entity +
    place-suffixed institution + membership sentence + product sentence +
    free-text tail), so an oracle over any span family can re-derive the
    expected extracted text exactly."""
    state_case = (
        "CASE CAST(doc_id % 4 AS INT) "
        + " ".join(
            f"WHEN {i} THEN '{s}'" for i, s in enumerate(_KG_TPL_STATES[:-1])
        )
        + f" ELSE '{_KG_TPL_STATES[-1]}' END"
    )
    return f"""'doc hoy Grupo Alfa' || CAST(doc_id % 50 AS VARCHAR)
               || (CASE WHEN doc_id % 3 = 0 THEN ' S.A.' ELSE '' END)
               || ' anunció resultados.'
               || (CASE WHEN doc_id % 10 = 0
                   THEN ' También participó Grupo Alfa0 en la sesión.'
                   ELSE '' END)
               || (CASE WHEN doc_id % 5 = 0
                   THEN ' Secretaría de Salud' || CAST(doc_id % 40 AS VARCHAR)
                        || ' de ' || {state_case} || ' informó.'
                   ELSE '' END)
               || (CASE WHEN doc_id % 7 = 0
                   THEN ' Juan Pérez' || CAST(doc_id % 30 AS VARCHAR)
                        || ', presidente de Grupo Beta'
                        || CAST(doc_id % 15 AS VARCHAR)
                        || ' S.A. encabezó la reunión.'
                   ELSE '' END)
               || (CASE WHEN doc_id % 6 = 0
                   THEN ' Producto 4401'
                        || lpad(CAST(doc_id % 25 AS VARCHAR), 4, '0')
                        || '23456: material de curación, '
                        || CAST(doc_id % 9 + 1 AS VARCHAR)
                        || ' unidades a $' || CAST(doc_id % 7 + 5 AS VARCHAR)
                        || '.50 con sobreprecio $'
                        || (CASE WHEN doc_id % 3 = 0 THEN '0.00'
                                 WHEN doc_id % 3 = 1
                                 THEN CAST(doc_id % 4 AS VARCHAR) || '.25'
                                 ELSE '-1.75' END)
                        || ' y promedio $' || CAST(doc_id % 5 AS VARCHAR)
                        || '.00 según el acta.'
                   ELSE '' END)
               || ' ' || text"""


def _kg_products_oracle_sql() -> str:
    """DuckDB twin of the product-document branch (plans/products.py,
    reference extract.js:40-140): PRODUCT_RE spans over the template text,
    CBMEI dotted ids (getProductID, extract.js:142-153), and the order-free
    A12-A15 aggregates — decomposed running average, the two conditional
    overprice sums with their ≠0/>0/avg≠0 gates, min/max purchase dates."""
    from ocds_entity_extract_spark.operators.mentions import PRODUCT_RE

    return rf"""
    WITH pages AS (
      SELECT 'https://docs.example.mx/' || CAST(doc_id AS VARCHAR) AS url,
             TIMESTAMP '2025-01-01 00:00:00'
               + doc_id * INTERVAL 1 SECOND AS warc_ts,
             {_kg_tpl_text_sql()} AS text
      FROM documents
    ),
    norm AS (
      SELECT url, warc_ts,
             trim(regexp_replace(text, '\s+', ' ', 'g')) AS text
      FROM pages
    ),
    pm AS (
      SELECT url, warc_ts,
             unnest(regexp_extract_all(text, '{PRODUCT_RE}')) AS s
      FROM norm
    ),
    it AS (
      SELECT url, warc_ts,
             regexp_extract(s, '{PRODUCT_RE}', 1) AS pid,
             regexp_extract(s, '{PRODUCT_RE}', 2) AS description,
             CAST(regexp_extract(s, '{PRODUCT_RE}', 3) AS BIGINT) AS quantity,
             CAST(regexp_extract(s, '{PRODUCT_RE}', 4) AS DOUBLE) AS unit_price,
             CAST(regexp_extract(s, '{PRODUCT_RE}', 5) AS DOUBLE) AS overprice,
             CAST(regexp_extract(s, '{PRODUCT_RE}', 6) AS DOUBLE) AS avg_value
      FROM pm
    ),
    typed AS (
      SELECT *,
             CASE WHEN strpos(pid, '.') > 0 THEN pid
                  WHEN length(pid) >= 12
                  THEN substr(pid, 1, 3) || '.' || substr(pid, 4, 3) || '.'
                       || substr(pid, 7, 4) || '.' || substr(pid, 11)
                  ELSE pid END AS product_id
      FROM it WHERE pid <> ''
    )
    SELECT product_id,
           min(description) AS description,
           CAST(count(*) AS BIGINT) AS purchase_count,
           CAST(sum(quantity) AS BIGINT) AS purchase_quantity,
           CAST(sum(quantity * unit_price) AS DOUBLE) AS purchase_amount,
           CAST(sum(quantity * unit_price) / sum(quantity) AS DOUBLE)
             AS avg_unit_price,
           CAST(sum(CASE WHEN overprice <> 0 THEN overprice ELSE 0 END)
                AS DOUBLE) AS amount_over_all,
           CAST(sum(CASE WHEN overprice > 0 THEN overprice ELSE 0 END)
                AS DOUBLE) AS amount_over_with_overcost,
           CAST(sum(CASE WHEN overprice <> 0 AND avg_value <> 0
                         THEN overprice / avg_value ELSE 0 END)
                AS DOUBLE) AS quantity_lost_all,
           CAST(sum(CASE WHEN overprice > 0 AND avg_value <> 0
                         THEN overprice / avg_value ELSE 0 END)
                AS DOUBLE) AS quantity_lost_with_overcost,
           strftime(min(warc_ts), '%Y-%m-%d') AS first_purchase_date,
           strftime(max(warc_ts), '%Y-%m-%d') AS last_purchase_date
    FROM typed GROUP BY product_id
    """


@query("kg_pipeline_products", _kg_products_oracle_sql())
def q_kg_pipeline_products(spark, sf_dir):
    """The flagship's PRODUCT entity kind end-to-end under the full
    value-hash gate: template pages -> real build_triples (fused span
    extraction incl. PRODUCT_RE, typed item parse, one partial-aggregated
    groupBy) -> per-product documents with the reference's counters,
    decomposed average, conditional overprice sums and purchase-date range
    (A12-A15, reference extract.js:40-140) — compared value-for-value
    against _kg_products_oracle_sql."""
    from ocds_entity_extract_spark.plans.pipeline import build_triples

    docs = _t(spark, sf_dir, "documents")
    return build_triples(spark, _kg_template_pages(docs)).products.withColumn(
        "first_purchase_date", F.col("first_purchase_date").cast("string")
    ).withColumn("last_purchase_date", F.col("last_purchase_date").cast("string"))
