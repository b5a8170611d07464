"""Paper-grade dedup extensions beyond the MinHash/SimHash family:

- **SemDeDup** (Abbas et al. 2023, "SemDeDup: Data-efficient learning
  at web-scale through semantic deduplication"): k-means-cluster the
  embedding space, then prune semantic duplicates *within* each
  cluster — pairwise work is bounded by cluster size, never the
  corpus.
- **Winnowing** (Schleimer, Wilkerson & Aiken, SIGMOD 2003 — the MOSS
  fingerprinter): position-robust selection of token k-gram hashes
  such that any shared token run of length >= w + k - 1 between two
  documents is GUARANTEED to share at least one selected fingerprint.
  This is the scalable relaxation of exact-substring dedup (Lee et
  al. 2022, "Deduplicating Training Data Makes Language Models
  Better"): suffix-array substring matching does not distribute,
  winnowed fingerprints join on a hash key like any other shuffle.

Both follow the repo's exactness playbook: integer / md5-derived
arithmetic only, so the DuckDB oracles hash-match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datapipelinedemo_spark.operators import similarity as SIM
from datapipelinedemo_spark.operators.dedup import WINNOW_K, WINNOW_W, winnow
from datapipelinedemo_spark.plans.catalog import register
from datapipelinedemo_spark.plans.llm_ops import NEARDUP_TAU
from datapipelinedemo_spark.plans.ml_ops import (
    _kmeans_cte,
    kmeans_assign_cached,
)
from datapipelinedemo_spark.tables import table

# --------------------------------------------------------------------------
# SemDeDup: within-cluster semantic near-dup pruning
# --------------------------------------------------------------------------

# Cosine threshold above which two same-cluster embeddings are
# semantic duplicates. The paper uses ~0.95+ on real embeddings; the
# synthetic testdata has no true near-dups above 0.5, so the catalog
# pins the corpus' near-dup boundary to exercise the prune path on
# data that actually contains pairs. ONE definition
# (llm_ops.NEARDUP_TAU) shared with embedding_neardup_pairs and
# hard_negative_mining — the boundaries move together or not at all.
_SEM_TAU = NEARDUP_TAU
_SEM_K = 8          # floor cluster count (= the sf0.01 value, n=500)
_TARGET_CLUSTER = 64  # production: k grows so clusters stay ~this size
_SEM_CAP = 2048     # pairwise head per cluster (mega-cluster guard)

# The oracle derives k from the SAME formula, as a scalar subquery over
# the corpus it runs on — certification at any sf uses the engine's
# adaptive geometry, nothing is pinned to n=500 (ADVICE r6).
_SEM_K_SQL = (
    f"(SELECT GREATEST({_SEM_K}, COUNT(*) // {_TARGET_CLUSTER})"
    " FROM embeddings)"
)


def semdedup_k_for(n: int, target: int = _TARGET_CLUSTER) -> int:
    """Cluster count ∝ corpus size so the expected cluster stays at
    ``target`` docs and the within-cluster pairwise stage is O(n ·
    target), not O(n²/k_fixed) — the same adaptive-geometry move as
    ``similarity.lsh_bits_for``. SQL twin: ``_SEM_K_SQL``."""
    return max(_SEM_K, n // target)


# Corpus-size memo for the adaptive-k lookup, keyed like the Bloom
# bitmap memo (corpus_ops._BLOOM_WORDS_MEMO): repeated plan builds pay
# zero extra Spark jobs; a regenerated source file re-counts. The
# count comes from the parquet footers (pyarrow metadata) — no Spark
# job even on the first call.
_SEM_N_MEMO: dict[tuple, int] = {}


def _corpus_n(spark: SparkSession, sf_dir: str) -> int:
    import os

    import pyarrow.parquet as pq

    from datapipelinedemo_spark.memo import source_stamp

    src = os.path.join(sf_dir, "embeddings.parquet")
    key = (sf_dir, source_stamp(src))
    n = _SEM_N_MEMO.get(key)
    if n is None:
        if os.path.isdir(src):
            # directory-style dataset (ADVICE r7 #1): sum the part
            # footers — still metadata-only, no Spark job
            n = sum(
                pq.ParquetFile(os.path.join(src, f)).metadata.num_rows
                for f in os.listdir(src)
                if f.endswith(".parquet")
            )
        else:
            n = pq.ParquetFile(src).metadata.num_rows
        _SEM_N_MEMO[key] = n
    return n


def semdedup(
    assignment: DataFrame,
    embeddings: DataFrame,
    threshold: float = 0.95,
    cluster_cap: int = 2048,
) -> DataFrame:
    """SemDeDup prune over a cluster ``assignment`` frame
    ``(vec_id, cluster, sq_dist)`` and the raw ``embeddings``.

    Keep rule (the paper's): within every duplicate pair, keep the
    example FARTHEST from its centroid (max ``sq_dist`` — exact
    BIGINT, no float ambiguity), ties keep the smaller ``vec_id``.
    A doc is dropped iff some same-cluster doc within ``threshold``
    cosine outranks it. No transitive closure is needed — the rule is
    a per-doc EXISTS, one self-join on the cluster key.

    Scale shape: ONE shuffle on ``cluster`` for the self-join; with
    ``semdedup_k_for`` geometry each cluster is ~64 docs, so pairwise
    work is linear in the corpus. ``cluster_cap`` bounds the
    degenerate case (a mega-cluster of boilerplate embeddings) the
    same way the LSH ``bucket_cap`` does: only the cap-ranked head of
    an oversized cluster enters the pairwise join (rank by sq_dist
    desc / vec_id — the keep-priority order, so the retained
    representative is always compared). No-op for clusters at or
    under the cap; at the sf0.01 oracle scale every cluster is far
    below it.
    """
    scored = assignment.join(
        embeddings.select(
            "vec_id",
            F.col("embedding").alias("v"),
            SIM.norm("embedding").alias("nrm"),
        ),
        "vec_id",
    )
    ranked = scored.withColumn(
        "__rn",
        F.row_number().over(
            Window.partitionBy("cluster").orderBy(
                F.desc("sq_dist"), F.asc("vec_id")
            )
        ),
    )
    head = ranked.filter(F.col("__rn") <= cluster_cap)
    a = head.select(
        F.col("cluster"),
        F.col("vec_id").alias("id_a"),
        F.col("sq_dist").alias("d_a"),
        F.col("v").alias("v_a"),
        F.col("nrm").alias("n_a"),
    )
    b = head.select(
        F.col("cluster"),
        F.col("vec_id").alias("id_b"),
        F.col("sq_dist").alias("d_b"),
        F.col("v").alias("v_b"),
        F.col("nrm").alias("n_b"),
    )
    dropped = (
        a.join(b, "cluster")
        .filter(F.col("id_a") != F.col("id_b"))
        .filter(
            SIM.dot("v_a", "v_b") / (F.col("n_a") * F.col("n_b"))
            >= threshold
        )
        .filter(
            (F.col("d_b") > F.col("d_a"))
            | (
                (F.col("d_b") == F.col("d_a"))
                & (F.col("id_b") < F.col("id_a"))
            )
        )
        .select(F.col("id_a").alias("vec_id"))
        .distinct()
        .withColumn("__dropped", F.lit(True))
    )
    return (
        assignment.join(dropped, "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            F.coalesce(~F.col("__dropped"), F.lit(True)).alias("kept"),
        )
    )


_SD_DOT = (
    "list_reduce(list_prepend(0.0::DOUBLE,"
    " [CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)"
    "  for i in generate_series(1, 64)]), (x, y) -> x + y)"
)
_SD_NRM_A = (
    "sqrt(list_reduce(list_prepend(0.0::DOUBLE,"
    " [CAST(ea.embedding[i] AS DOUBLE) * CAST(ea.embedding[i] AS DOUBLE)"
    "  for i in generate_series(1, 64)]), (x, y) -> x + y))"
)
_SD_NRM_B = _SD_NRM_A.replace("ea.embedding", "eb.embedding")


def _sd_dropped_cte(name: str) -> str:
    """CTE computing the SemDeDup dropped set from ``asg`` — shared by
    the standalone oracle and the composed-v2 oracle. Mirrors BOTH
    engine-side guards: the per-cluster pairwise head (``_SEM_CAP``,
    ranked by the keep-priority order d DESC / vec_id) and the cosine
    threshold, so neither is a silent Spark-only cap (ADVICE r6)."""
    return f"""
    , sdhead AS (
        SELECT vec_id, cid, d FROM (
            SELECT vec_id, cid, d,
                   ROW_NUMBER() OVER (PARTITION BY cid
                                      ORDER BY d DESC, vec_id) AS rn
            FROM asg
        ) WHERE rn <= {_SEM_CAP}
    ),
    {name} AS (
        SELECT DISTINCT x.vec_id
        FROM sdhead x
        JOIN sdhead y ON y.cid = x.cid AND y.vec_id <> x.vec_id
        JOIN embeddings ea ON ea.vec_id = x.vec_id
        JOIN embeddings eb ON eb.vec_id = y.vec_id
        WHERE {_SD_DOT} / ({_SD_NRM_A} * {_SD_NRM_B}) >= {_SEM_TAU}
          AND (y.d > x.d OR (y.d = x.d AND y.vec_id < x.vec_id))
    )"""


@register(
    "semdedup_prune",
    oracle=_kmeans_cte(k=_SEM_K_SQL)
    + _sd_dropped_cte("dropped")
    + """
    SELECT asg.vec_id, asg.cid AS cluster,
           (dropped.vec_id IS NULL) AS kept
    FROM asg LEFT JOIN dropped ON dropped.vec_id = asg.vec_id
    """,
)
def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embedding table: deterministic k-means
    clustering (the ``kmeans_embedding_clusters`` engine — exact
    integer-grid Lloyd's, shared oracle CTE), then within-cluster
    cosine pruning keeping the farthest-from-centroid representative
    of every duplicate pair.

    Oracle geometry is ADAPTIVE like the engine's: the SQL derives k
    from the same ``max(8, n // 64)`` formula via a scalar subquery
    (``_SEM_K_SQL``) and mirrors the per-cluster pairwise cap, so
    certification at any corpus size compares like with like — nothing
    is pinned to the sf0.01 n=500. The raw-double cosine threshold
    compare is the proven embedding_neardup_pairs pattern: both
    engines fold the same float32 inputs left-to-right in double
    precision, so the comparison is bit-identical.
    """
    emb = table(spark, sf_dir, "embeddings")
    n = _corpus_n(spark, sf_dir)
    assignment = kmeans_assign_cached(spark, sf_dir, k=semdedup_k_for(n))
    return semdedup(assignment, emb, threshold=_SEM_TAU, cluster_cap=_SEM_CAP)


# --------------------------------------------------------------------------
# Winnowing fingerprints + exact-substring match candidates
# --------------------------------------------------------------------------

# winnow() itself lives in operators/dedup.py (WINNOW_K=5, WINNOW_W=4);
# aliases kept for the oracle templates below.
_WIN_K = WINNOW_K
_WIN_W = WINNOW_W
# A k-gram shared by more than this many docs is boilerplate — joining
# on it would square pair counts (the C4 problem, handled corpus-wide
# by c4_line_dedup); matching drops it, mirrored exactly in the oracle.
_WIN_MAXDF = 64


# DuckDB twin of the k-gram/hash/window derivation, ending in CTE
# ``fp`` = (doc_id, pos, fingerprint, gram). Same rightmost-min rule
# via ROW_NUMBER (h ASC, pos DESC) — a different formulation than
# Spark's min(struct), same selected set.
_WINNOW_CTE = f"""
    WITH tk AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'),
                           t -> t <> '') AS toks
        FROM documents
    ),
    pp AS (
        SELECT doc_id, len(toks) - {_WIN_K - 1} AS m,
               unnest(generate_series(1, len(toks) - {_WIN_K - 1})) AS pos,
               toks
        FROM tk
    ),
    gr AS (
        SELECT doc_id, m, pos,
               array_to_string(toks[pos : pos + {_WIN_K - 1}], ' ') AS gram
        FROM pp
    ),
    hs AS (
        SELECT doc_id, m, pos, gram,
               CAST('0x' || substring(md5(gram), 1, 15) AS BIGINT) AS h
        FROM gr
    ),
    ww AS (
        SELECT doc_id, pos, gram, h,
               unnest(generate_series(
                   GREATEST(1, pos - {_WIN_W - 1}),
                   LEAST(pos, GREATEST(1, m - {_WIN_W - 1})))) AS win
        FROM hs
    ),
    wn AS (SELECT doc_id, pos, gram, h, win FROM ww),
    fp AS (
        SELECT DISTINCT doc_id, pos, h AS fingerprint, gram FROM (
            SELECT doc_id, pos, gram, h,
                   ROW_NUMBER() OVER (PARTITION BY doc_id, win
                                      ORDER BY h, pos DESC) AS rn
            FROM wn
        ) WHERE rn = 1
    )
"""


@register(
    "winnowing_fingerprints",
    oracle=_WINNOW_CTE
    + """
    SELECT doc_id, CAST(pos AS BIGINT) AS pos, fingerprint, gram FROM fp
    """,
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed (doc_id, pos, fingerprint, gram) selection over the
    documents table — see ``operators.dedup.winnow`` for the
    guarantee and plan shape. Served from the write-once parquet
    index (the k-gram md5 pass runs once per corpus generation —
    the MinHash-shingle precedent), bit-identical to inline."""
    from datapipelinedemo_spark.operators.neardup_index import winnow_index

    out = winnow_index(spark, sf_dir)
    return out.select(
        "doc_id", F.col("pos").cast("long").alias("pos"),
        "fingerprint", "gram",
    )


def kept_gram_pair_hits(fp: DataFrame) -> DataFrame:
    """Shared candidate frame for the exact-substring pair family:
    one row per pair of gram OCCURRENCES of a kept (df <= _WIN_MAXDF)
    gram across two documents —
    ``(gram, doc_a, doc_b, pos_a, pos_b)`` with doc_a < doc_b.
    ``winnowed_substring_matches`` aggregates it per pair;
    ``winnowed_substring_spans`` islands it per alignment diagonal.
    One definition so a change to the boilerplate guard can never
    desynchronize the two queries' candidate sets."""
    keep = (
        fp.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter(F.col("df") <= _WIN_MAXDF)
        .select("gram")
    )
    a = fp.join(keep, "gram").select(
        "gram", F.col("doc_id").alias("doc_a"), F.col("pos").alias("pos_a")
    )
    b = fp.select(
        "gram", F.col("doc_id").alias("doc_b"), F.col("pos").alias("pos_b")
    )
    return (
        a.join(b, "gram")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("gram", "doc_a", "doc_b", "pos_a", "pos_b")
    )


# DuckDB twin of kept_gram_pair_hits: CTEs ``keep`` + ``hits``,
# appended after _WINNOW_CTE (which ends in ``fp``). Shared by both
# substring oracles.
_WIN_PAIR_CTE = f"""
    , keep AS (
        SELECT gram FROM (
            SELECT gram, COUNT(DISTINCT doc_id) AS df FROM fp GROUP BY gram
        ) WHERE df <= {_WIN_MAXDF}
    ),
    hits AS (
        SELECT a.gram, a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.pos AS pos_a, b.pos AS pos_b
        FROM fp a JOIN fp b ON b.gram = a.gram AND a.doc_id < b.doc_id
        JOIN keep k ON k.gram = a.gram
    )
"""


@register(
    "winnowed_substring_matches",
    oracle=_WINNOW_CTE
    + _WIN_PAIR_CTE
    + """
    SELECT doc_a, doc_b,
           CAST(COUNT(*) AS BIGINT) AS shared_fingerprints,
           CAST(COUNT(DISTINCT gram) AS BIGINT) AS shared_grams
    FROM hits GROUP BY doc_a, doc_b
    """,
)
def winnowed_substring_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication candidates: pairs of documents
    sharing winnowed k-gram fingerprints, with fingerprint-occurrence
    and distinct-gram counts. By the winnowing guarantee every shared
    token run of >= w+k-1 = 8 tokens appears here; matches are joined
    on the GRAM TEXT (not the hash), so there are no collision false
    positives — the join key is hash-partitioned identically either
    way.

    Boilerplate guard: grams present in more than 64 docs (_WIN_MAXDF)
    are excluded BEFORE the pair join (document-frequency filter — one
    extra groupBy on the fingerprint frame), because one corpus-wide
    boilerplate gram would emit O(df²) pairs; corpus-level
    boilerplate is the c4_line_dedup operator's job. The filter is
    mirrored in the oracle, so it is part of the checked semantics,
    not a silent cap.

    Scale: fingerprints are ~2/(w+1) of k-gram positions; the pair
    join shuffles on the gram key with per-key fan-out bounded by
    maxdf² — no quadratic blowup anywhere. The fingerprint frame is
    read from the write-once parquet index — it feeds three branches
    (df filter, both join sides) and Catalyst would otherwise
    re-derive the full k-gram/md5/window lineage per branch.
    """
    from datapipelinedemo_spark.operators.neardup_index import winnow_index

    fp = winnow_index(spark, sf_dir)
    return (
        kept_gram_pair_hits(fp)
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("shared_fingerprints"),
            F.count_distinct("gram").alias("shared_grams"),
        )
    )


# --------------------------------------------------------------------------
# Composed round-6 corpus build: bloom decontamination + SemDeDup +
# length gate, with per-source accounting
# --------------------------------------------------------------------------
_V2_MIN_TOKENS = 20
_V2_TOKS = r"list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')"


def _v2_oracle() -> str:
    from datapipelinedemo_spark.plans.corpus_ops import _BLOOM_CORE

    return (
        _kmeans_cte(k=_SEM_K_SQL)
        + ", "
        + _BLOOM_CORE
        + _sd_dropped_cte("sdropped")
        + f"""
    , tokc AS (
        SELECT doc_id, source, CAST(len({_V2_TOKS}) AS BIGINT) AS ntok
        FROM documents WHERE doc_id % 50 <> 0
    ),
    flagged AS (
        SELECT t.source, t.ntok,
               CASE WHEN b.doc_id IS NOT NULL THEN 'contaminated'
                    WHEN s.vec_id IS NOT NULL THEN 'semantic_dup'
                    WHEN t.ntok < {_V2_MIN_TOKENS} THEN 'low_quality'
                    ELSE 'kept' END AS reason
        FROM tokc t
        LEFT JOIN (SELECT DISTINCT doc_id FROM hit) b
               ON b.doc_id = t.doc_id
        LEFT JOIN sdropped s ON s.vec_id = t.doc_id
    )
    SELECT source, reason,
           CAST(COUNT(*) AS BIGINT) AS docs,
           CAST(SUM(ntok) AS BIGINT) AS tokens
    FROM flagged GROUP BY 1, 2
    """
    )


@register("training_corpus_pipeline_v2", oracle=_v2_oracle())
def training_corpus_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-6 corpus build, composed from this round's operators
    with full per-source accounting: benchmark decontamination via the
    Bloom bitmap (zero corpus shuffles), semantic dedup via SemDeDup
    (kmeans assignment from the write-once index, within-cluster
    prune), and a token-length quality gate — each surviving doc
    counted once under its FIRST applicable drop reason
    (contaminated > semantic_dup > low_quality > kept), with doc and
    token volumes per (source, reason).

    Contrast with ``training_corpus_pipeline`` (the MinHash-chain
    build): that one resolves lexical near-dup clusters; this one is
    the semantic/contamination pass a production pipeline runs
    alongside it. Both read stored indexes, so the per-run cost is
    flags + one accounting aggregate. doc_id ≡ vec_id (the hybrid RRF
    precedent) links documents to their embeddings.
    """
    from datapipelinedemo_spark.functions import text as TX
    from datapipelinedemo_spark.plans.corpus_ops import bloom_decontamination

    docs = table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 50 != 0)
    bloom = (
        bloom_decontamination(spark, sf_dir)
        .select("doc_id")
        .withColumn("__bloom", F.lit(True))
    )
    sem = (
        semdedup_prune(spark, sf_dir)
        .filter(~F.col("kept"))
        .select(F.col("vec_id").alias("doc_id"))
        .withColumn("__semdup", F.lit(True))
    )
    return (
        train.select(
            "doc_id",
            "source",
            F.size(TX.tokenize("text")).cast("long").alias("ntok"),
        )
        .join(bloom, "doc_id", "left")
        .join(sem, "doc_id", "left")
        .withColumn(
            "reason",
            F.when(F.col("__bloom"), F.lit("contaminated"))
            .when(F.col("__semdup"), F.lit("semantic_dup"))
            .when(
                F.col("ntok") < _V2_MIN_TOKENS, F.lit("low_quality")
            )
            .otherwise(F.lit("kept")),
        )
        .groupBy("source", "reason")
        .agg(
            F.count(F.lit(1)).cast("long").alias("docs"),
            F.sum("ntok").cast("long").alias("tokens"),
        )
    )


# --------------------------------------------------------------------------
# Composed round-9 corpus build, end-to-end: lexical near-dup removal
# -> bloom decontamination -> CCNet quality selection -> UniMax budget
# + temperature mix over the SURVIVORS -> shard assignment. Every
# stage is a certified operator; this entry pins their COMPOSITION —
# the artifact a trainer's data loader actually consumes — against
# one composed oracle.
# --------------------------------------------------------------------------
_V3_N_SHARDS = 16


def _v3_oracle() -> str:
    from datapipelinedemo_spark.plans.corpus_ops import _BLOOM_CORE
    from datapipelinedemo_spark.plans.llm_ops import _CC_ORACLE
    from datapipelinedemo_spark.plans.selection_ops import (
        _CCNET_NTILE_SQL,
        _mix_sql,
        _unimax_sql,
    )

    surv_tokens = (
        "SELECT source, CAST(SUM(ntok) AS BIGINT) AS n_tokens"
        " FROM surv GROUP BY source"
    )
    surv_mix = (
        "SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,"
        " CAST(SUM(ntok) AS BIGINT) AS n_tokens"
        " FROM surv GROUP BY source"
    )
    return (
        "WITH "
        + _BLOOM_CORE
        + f"""
    , canon AS (
        SELECT doc_id FROM ({_CC_ORACLE}) WHERE doc_id = comp
    ),
    bk AS (SELECT doc_id, bucket FROM ({_CCNET_NTILE_SQL})),
    surv AS (
        SELECT d.doc_id, d.source, CAST(len(t.t) AS BIGINT) AS ntok
        FROM documents d
        JOIN tok t ON t.doc_id = d.doc_id
        JOIN canon ON canon.doc_id = d.doc_id
        JOIN bk ON bk.doc_id = d.doc_id AND bk.bucket <> 'tail'
        LEFT JOIN (SELECT DISTINCT doc_id FROM hit) h
               ON h.doc_id = d.doc_id
        WHERE d.doc_id % 50 <> 0 AND h.doc_id IS NULL
    ),
    alloc AS ({_unimax_sql(surv_tokens)}),
    mix AS ({_mix_sql(surv_mix)}),
    sh2 AS (
        SELECT doc_id,
               CAST(CAST('0x' || substring(
                    md5(CAST(doc_id AS VARCHAR) || '#shard'), 1, 15)
                    AS BIGINT) % {_V3_N_SHARDS} AS BIGINT) AS shard_id
        FROM surv
    )
    SELECT surv.source AS source, sh2.shard_id AS shard_id,
           CAST(COUNT(*) AS BIGINT) AS docs,
           CAST(SUM(surv.ntok) AS BIGINT) AS tokens,
           alloc.allocated_tokens AS allocated_tokens,
           mix.mix_weight AS mix_weight
    FROM surv
    JOIN sh2 ON sh2.doc_id = surv.doc_id
    JOIN alloc ON alloc.source = surv.source
    JOIN mix ON mix.source = surv.source
    GROUP BY 1, 2, 5, 6
    """
    )


@register("training_corpus_pipeline_v3", oracle=_v3_oracle())
def training_corpus_pipeline_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full pretraining-data build, composed end-to-end from the
    certified stages (VERDICT r8 next-round #8): MinHash-LSH near-dup
    clusters keep the canonical doc per cluster; the Bloom bitmap
    drops benchmark-contaminated docs (and the eval slice itself);
    CCNet keeps the head+middle perplexity terciles (via the sort-free
    threshold variant — bit-equal to the NTILE twin); the SURVIVOR
    corpus then gets its per-source UniMax epoch-capped token budget
    and T=2 temperature mix weight; finally every surviving doc is
    hash-assigned to a training shard. Output: per (source, shard)
    doc/token volumes with the source's allocation and mix weight —
    the manifest row a data loader schedules from.

    Scale shape: each stage keeps its certified plan (stored LSH
    index + O(log n) CC; in-row bloom; broadcast CCNet thresholds;
    |sources|-row mixing frames; in-row shard hash); the composition
    adds only doc-grain joins on doc_id and one (source, shard)
    partial agg. No new shuffle class appears at 100 TB that a stage
    didn't already pay."""
    from datapipelinedemo_spark.functions import text as TX
    from datapipelinedemo_spark.functions.stable import md5_long
    from datapipelinedemo_spark.pin import pin
    from datapipelinedemo_spark.plans.corpus_ops import (
        bloom_decontamination,
    )
    from datapipelinedemo_spark.plans.llm_ops import neardup_clusters
    from datapipelinedemo_spark.plans.selection_ops import (
        ccnet_buckets_by_threshold,
        temperature_weights,
        unimax_allocate,
    )

    docs = table(spark, sf_dir, "documents")
    canon = (
        neardup_clusters(spark, sf_dir)
        .filter(F.col("doc_id") == F.col("comp"))
        .select("doc_id")
    )
    bloom = (
        bloom_decontamination(spark, sf_dir)
        .select("doc_id")
        .withColumn("__contam", F.lit(True))
    )
    kept_buckets = (
        ccnet_buckets_by_threshold(spark, sf_dir)
        .filter(F.col("bucket") != "tail")
        .select("doc_id")
    )
    # r16: surv feeds BOTH the per-source pin below and the final
    # (source, shard) agg — without its own pin the full survivor
    # lineage (CC + bloom + CCNet joins, each itself a multi-stage
    # plan) re-derives once per consumer. Row = two longs + a short
    # bounded source tag.
    surv = pin(  # narrow-pin: ~24 B/row (doc_id, ntok, short source tag) — survivor doc grain
        docs.filter(F.col("doc_id") % 50 != 0)
        .select(
            "doc_id",
            "source",
            F.size(TX.tokenize("text")).cast("long").alias("ntok"),
        )
        .join(canon, "doc_id")
        .join(kept_buckets, "doc_id")
        .join(bloom, "doc_id", "left")
        .filter(F.col("__contam").isNull())
        .select("doc_id", "source", "ntok")
    )
    # pin the |sources|-row frame: alloc and mix each consume it, and
    # each would otherwise re-derive the FULL survivor lineage (CC +
    # bloom + CCNet joins) — pin.py's exact use case (tiny frame,
    # expensive lineage)
    from datapipelinedemo_spark.pin import pin

    per = pin(  # pin-bounded: |sources| rows
        surv.groupBy("source").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("ntok").cast("long").alias("n_tokens"),
        )
    )
    alloc = unimax_allocate(per.select("source", "n_tokens")).select(
        "source", "allocated_tokens"
    )
    mix = temperature_weights(per).select("source", "mix_weight")
    shard_id = (
        md5_long(F.concat(F.col("doc_id").cast("string"), F.lit("#shard")))
        % _V3_N_SHARDS
    ).alias("shard_id")
    return (
        surv.select("source", "ntok", shard_id)
        .groupBy("source", "shard_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("docs"),
            F.sum("ntok").cast("long").alias("tokens"),
        )
        .join(F.broadcast(alloc), "source")
        .join(F.broadcast(mix), "source")
    )


# --------------------------------------------------------------------------
# Quality-based canonical doc per near-dup cluster
# --------------------------------------------------------------------------
# The keep-rule half of cluster resolution: after connected components
# groups near-duplicates, a pipeline keeps ONE representative per
# cluster. training_corpus_pipeline uses the min-doc_id rule (cheap,
# arbitrary); the Lee et al. 2022 production rule keeps the LONGEST
# member — dedup should discard the truncated/boilerplate copies, not
# a random one. This query pins that rule: per cluster, the max
# n_chars member (ties → smaller doc_id), with member accounting.


def _canon_oracle() -> str:
    from datapipelinedemo_spark.plans.llm_ops import _CC_ORACLE

    return f"""
    WITH cc AS ({_CC_ORACLE}),
    m AS (
        SELECT cc.comp AS cluster_id, d.doc_id, d.n_chars
        FROM cc JOIN documents d USING (doc_id)
    ),
    r AS (
        SELECT cluster_id, doc_id, n_chars,
               ROW_NUMBER() OVER (PARTITION BY cluster_id
                                  ORDER BY n_chars DESC, doc_id) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
                   AS n_members
        FROM m
    )
    SELECT cluster_id, doc_id AS canonical_doc,
           CAST(n_chars AS BIGINT) AS canonical_chars, n_members
    FROM r WHERE rn = 1
    """


def canonical_by_quality(members: DataFrame) -> DataFrame:
    """The keep-rule, factored for direct testing: given
    ``(cluster_id, doc_id, n_chars)`` membership rows, return one
    canonical per cluster — max ``n_chars``, ties to the SMALLER
    ``doc_id`` — plus member count. One window over the cluster key."""
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    wc = Window.partitionBy("cluster_id")
    return (
        members.withColumn("rn", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(wc).cast("long"))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("canonical_doc"),
            F.col("n_chars").cast("long").alias("canonical_chars"),
            "n_members",
        )
    )


@register("neardup_canonical_quality", oracle=_canon_oracle())
def neardup_canonical_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One canonical document per near-dup cluster, chosen by QUALITY
    (longest member, ties to the smaller doc_id — the Lee et al. 2022
    keep-rule) instead of min-id: ``(cluster_id, canonical_doc,
    canonical_chars, n_members)``, singletons included as their own
    canonical.

    Plan: the cluster assignment comes from ``neardup_clusters``
    (shared memoized LSH candidate frame + connected components); the
    keep-rule is one window over the (doc → cluster) frame — ranked on
    the cluster key, so the shuffle is the same key the components
    aggregation already used. Near-dup clusters are near-cliques of
    bounded size (bucket caps bound the candidate degree), so no
    cluster partition is large at any corpus size.
    """
    from datapipelinedemo_spark.plans.llm_ops import neardup_clusters

    clusters = neardup_clusters(spark, sf_dir)
    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    m = clusters.select(
        F.col("comp").alias("cluster_id"), "doc_id"
    ).join(docs, "doc_id")
    return canonical_by_quality(m)


# --------------------------------------------------------------------------
# Maximal shared-substring SPANS from winnowed fingerprints
# --------------------------------------------------------------------------
# winnowed_substring_matches tells you WHICH pairs share substrings;
# this recovers WHERE — the span boundaries a Lee et al. 2022-style
# exact-substring dedup actually cuts. Shared gram occurrences of one
# run lie on a single alignment DIAGONAL (pos_b - pos_a constant),
# and inside a shared run both docs select the SAME relative
# positions (interior windows see identical hashes), so consecutive
# shared fingerprints sit ≤ w apart. Gaps-and-islands per
# (pair, diagonal) with break-at-gap>w therefore reconstructs maximal
# runs; spans report token positions [start, end] with
# end = last gram pos + k - 1.

_SPAN_MIN_FP = 2  # single-gram hits are noise, not substrings


def spans_from_fingerprints(fp: DataFrame) -> DataFrame:
    """The span-recovery plan, factored so unit tests exercise the
    SAME code the catalog query runs (the ``canonical_by_quality``
    precedent): df-capped gram occurrence pairs → gaps-and-islands
    per (pair, diagonal) with break-at-gap>w → [start, end] spans of
    islands holding >= _SPAN_MIN_FP shared fingerprints."""
    hits = kept_gram_pair_hits(fp).select(
        "doc_a",
        "doc_b",
        "pos_a",
        "pos_b",
        (F.col("pos_b") - F.col("pos_a")).alias("diag"),
    )
    wd = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    isl = hits.withColumn(
        "new_island",
        F.when(
            F.col("pos_a") - F.lag("pos_a").over(wd) > _WIN_W, 1
        ).otherwise(0),
    ).withColumn(
        "grp",
        F.sum("new_island").over(
            wd.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        isl.groupBy("doc_a", "doc_b", "diag", "grp")
        .agg(
            F.min("pos_a").cast("long").alias("a_start"),
            (F.max("pos_a") + F.lit(_WIN_K - 1))
            .cast("long")
            .alias("a_end"),
            F.min("pos_b").cast("long").alias("b_start"),
            (F.max("pos_b") + F.lit(_WIN_K - 1))
            .cast("long")
            .alias("b_end"),
            F.count(F.lit(1)).cast("long").alias("n_fingerprints"),
        )
        .filter(F.col("n_fingerprints") >= _SPAN_MIN_FP)
        .drop("diag", "grp")
    )


@register(
    "winnowed_substring_spans",
    oracle=_WINNOW_CTE
    + _WIN_PAIR_CTE
    + f"""
    , dhits AS (
        SELECT doc_a, doc_b, pos_a, pos_b, pos_b - pos_a AS diag
        FROM hits
    ),
    brk AS (
        SELECT doc_a, doc_b, diag, pos_a, pos_b,
               CASE WHEN pos_a - LAG(pos_a) OVER
                        (PARTITION BY doc_a, doc_b, diag ORDER BY pos_a)
                    > {_WIN_W} THEN 1 ELSE 0 END AS new_island
        FROM dhits
    ),
    isl AS (
        SELECT doc_a, doc_b, diag, pos_a, pos_b,
               SUM(new_island) OVER
                   (PARTITION BY doc_a, doc_b, diag ORDER BY pos_a
                    ROWS UNBOUNDED PRECEDING) AS grp
        FROM brk
    )
    SELECT doc_a, doc_b,
           CAST(MIN(pos_a) AS BIGINT) AS a_start,
           CAST(MAX(pos_a) + {_WIN_K - 1} AS BIGINT) AS a_end,
           CAST(MIN(pos_b) AS BIGINT) AS b_start,
           CAST(MAX(pos_b) + {_WIN_K - 1} AS BIGINT) AS b_end,
           CAST(COUNT(*) AS BIGINT) AS n_fingerprints
    FROM isl
    GROUP BY doc_a, doc_b, diag, grp
    HAVING COUNT(*) >= {_SPAN_MIN_FP}
    """,
)
def winnowed_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal shared-substring spans per document pair:
    ``(doc_a, doc_b, a_start, a_end, b_start, b_end,
    n_fingerprints)`` in 1-based token k-gram positions
    (``a_end`` covers the last gram's k tokens). Islands of ≥2 shared
    fingerprints on one alignment diagonal, split where consecutive
    shared positions are more than w apart.

    Scale shape: the fingerprint frame comes from the write-once
    winnow index; the pair join is the df-capped gram join of
    ``winnowed_substring_matches``; the island pass is two window
    functions partitioned by (pair, diagonal) — keys at least as fine
    as the join output, so no new skew. All arithmetic is integer →
    hash-exact across engines.
    """
    from datapipelinedemo_spark.operators.neardup_index import winnow_index

    return spans_from_fingerprints(winnow_index(spark, sf_dir))


# --------------------------------------------------------------------------
# Soft dedup: duplication-aware sampling weights
# --------------------------------------------------------------------------
def _soft_oracle() -> str:
    from datapipelinedemo_spark.plans.llm_ops import _CC_ORACLE

    return f"""
    WITH cc AS ({_CC_ORACLE}),
    m AS (SELECT comp AS cluster_id, doc_id FROM cc),
    sz AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members
           FROM m GROUP BY 1)
    SELECT m.doc_id, m.cluster_id, sz.n_members,
           round(1.0 / sz.n_members, 6) AS sample_weight
    FROM m JOIN sz USING (cluster_id)
    """


@register("soft_dedup_weights", oracle=_soft_oracle())
def soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup: instead of DELETING near-duplicates, keep every
    copy and weight each by 1/cluster_size, so a duplicate cluster
    contributes one document's worth of expected training mass — the
    keep-but-downweight policy pipelines use when hard removal is too
    aggressive (each cluster member may carry distinct metadata or
    formatting worth sampling across). Composes with the weighted
    samplers (``weighted_sample_by_length``'s Efraimidis–Spirakis
    machinery accepts any weight column) and with DSIR importance
    weights multiplicatively.

    Plan: the memoized cluster assignment + one partial-agg count per
    cluster joined back on the cluster key — the shuffle granularity
    the components aggregation already used. Singletons weigh 1.0.
    """
    from datapipelinedemo_spark.plans.llm_ops import neardup_clusters

    m = neardup_clusters(spark, sf_dir).select(
        F.col("comp").alias("cluster_id"), "doc_id"
    )
    sz = m.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )
    return m.join(sz, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "n_members",
        F.round(F.lit(1.0) / F.col("n_members"), 6).alias("sample_weight"),
    )


# --------------------------------------------------------------------------
# Exact-substring deduplication (Lee et al. 2022, "Deduplicating
# Training Data Makes Language Models Better"): find every >=
# _ES_L-token substring that occurs >= 2 times ANYWHERE in the corpus
# (cross- or intra-document) and remove all but the globally first
# occurrence — the production method the near-dup family (MinHash /
# SimHash / winnowing) approximates. Spark-first replacement for the
# paper's suffix array: every L-gram start position carries the
# md5-parity hash of its gram (one in-row pass over the token array —
# the gram string itself never shuffles), one groupBy finds hashes
# with >= 2 occurrences and their global (doc_id, pos) minimum,
# per-document windows merge duplicated starts into maximal spans
# (gap <= L <=> the covered intervals overlap, since all intervals
# have length exactly L), and keep-first removal drops the tokens
# covered by redundant starts. Doc-grain windows only — never a
# partitionless stage; the corpus-scale costs are one posexplode and
# one hash shuffle. Production note: the md5-parity hash stands in
# for exact gram verification by the standing near-dup convention
# (both engines group identically, collisions included); a 100 TB
# deployment verifies candidate groups against the real gram before
# removal, or swaps in xxhash64 + verification.
# --------------------------------------------------------------------------
_ES_L = 50  # Lee et al.'s span threshold, in tokens

_ES_CTE = f"""
    WITH tk AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'),
                           t -> t <> '') AS toks
        FROM documents
    ),
    pp AS (
        SELECT doc_id,
               unnest(generate_series(1, len(toks) - {_ES_L - 1})) AS pos,
               toks
        FROM tk WHERE len(toks) >= {_ES_L}
    ),
    hs AS (
        SELECT doc_id, pos,
               CAST('0x' || substring(md5(
                   array_to_string(toks[pos : pos + {_ES_L - 1}], ' ')),
                   1, 15) AS BIGINT) AS h
        FROM pp
    ),
    dups AS (
        SELECT doc_id, pos,
               ROW_NUMBER() OVER (PARTITION BY h
                                  ORDER BY doc_id, pos) AS occ,
               COUNT(*) OVER (PARTITION BY h) AS c
        FROM hs
    ),
    dpos AS (
        SELECT doc_id, pos, occ FROM dups WHERE c >= 2
    )
"""

_ES_ISLANDS = f"""
    , flagged AS (
        SELECT doc_id, pos,
               CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id
                                              ORDER BY pos)
                         <= {_ES_L} THEN 0 ELSE 1 END AS new_span
        FROM starts
    ),
    isl AS (
        SELECT doc_id, pos,
               SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos
                                   ROWS UNBOUNDED PRECEDING) AS g
        FROM flagged
    ),
    spans AS (
        SELECT doc_id,
               CAST(MIN(pos) AS BIGINT) AS span_start,
               CAST(MAX(pos) + {_ES_L - 1} AS BIGINT) AS span_end,
               CAST(COUNT(*) AS BIGINT) AS n_dup_positions
        FROM isl GROUP BY doc_id, g
    )
"""


def _es_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, pos, occ): every L-gram start whose gram hash occurs
    >= 2 times in the corpus. ``occ`` is collapsed to the only values
    consumers ever test (VERDICT r12 #2): 1 = the globally FIRST
    occurrence of the gram (minimum (doc_id, pos) — the one keep-first
    retains), 2 = every redundant occurrence. The spans consumer takes
    all rows; the dedup consumer filters ``occ >= 2``.

    Scale shape: NOT a per-hash window. On real web corpora one
    boilerplate 50-token gram (license header, template) occurs
    10^6-10^8 times; ``row_number().over(partitionBy("h"))`` would ship
    every occurrence into a single unsplittable sorted task. Instead the
    first-occurrence test is ``groupBy("h").agg(min(struct(doc_id,
    pos)), count)`` — fully partial-aggregable (map-side combine
    collapses the hot hash to one row per input partition) — joined
    back to the gram index. The join-back shuffles by ``h`` too, but a
    join's skewed partition is AQE-splittable (the build side is one
    row per hash) where a window's never is.

    Gram hashes come from the write-once index (the O(L)-per-position
    md5 pass runs once per corpus generation —
    ``neardup_index.es_gram_index``)."""
    from datapipelinedemo_spark.operators.neardup_index import (
        es_gram_index,
    )

    return es_redundant_positions(es_gram_index(spark, sf_dir, _ES_L))


def es_redundant_positions(grams: DataFrame) -> DataFrame:
    """The detection body of ``_es_positions`` over an arbitrary
    (doc_id, pos, h) gram frame — hash-agnostic (grams are compared
    only for equality), so the md5 oracle-parity path and the
    xxhash64 production path (``operators.dedup.exact_substring_grams
    (hash=...)``) share it; equivalence pinned by
    tests/test_dedup_ext.py::test_exact_substring_xxhash64_same_detection."""
    firsts = (
        grams.groupBy("h")
        .agg(
            F.min(F.struct("doc_id", "pos")).alias("first"),
            F.count(F.lit(1)).alias("c"),
        )
        .filter(F.col("c") >= 2)
        .select("h", "first")
    )
    return grams.join(firsts, "h").select(
        "doc_id",
        "pos",
        F.when(
            (F.col("doc_id") == F.col("first.doc_id"))
            & (F.col("pos") == F.col("first.pos")),
            F.lit(1),
        )
        .otherwise(F.lit(2))
        .cast("long")
        .alias("occ"),
    )


def _es_spans(starts: DataFrame) -> DataFrame:
    """Merge duplicated start positions into maximal spans per doc:
    starts p1 < p2 belong to one span iff p2 - p1 <= L (their
    L-token intervals overlap or touch). Doc-grain windows only."""
    wd = Window.partitionBy("doc_id").orderBy("pos")
    flagged = starts.select(
        "doc_id",
        "pos",
        F.when(
            F.col("pos") - F.lag("pos").over(wd) <= _ES_L, 0
        )
        .otherwise(1)
        .alias("new_span"),
    )
    isl = flagged.withColumn(
        "g",
        F.sum("new_span").over(
            wd.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return isl.groupBy("doc_id", "g").agg(
        F.min("pos").cast("long").alias("span_start"),
        (F.max("pos") + F.lit(_ES_L - 1)).cast("long").alias("span_end"),
        F.count(F.lit(1)).cast("long").alias("n_dup_positions"),
    )


@register(
    "exact_substring_duplicate_spans",
    oracle=_ES_CTE
    + ", starts AS (SELECT doc_id, pos FROM dpos)"
    + _ES_ISLANDS
    + """
    SELECT doc_id, span_start, span_end, n_dup_positions,
           span_end - span_start + 1 AS span_tokens
    FROM spans
    """,
)
def exact_substring_duplicate_spans(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Maximal duplicated regions per document (banner above): every
    token interval covered by >= 2-occurrence L-gram starts, merged.
    The detection table a dedup run reads before deciding removal
    policy — includes the FIRST occurrence of each duplicate (the one
    keep-first retains)."""
    spans = _es_spans(
        _es_positions(spark, sf_dir).select("doc_id", "pos")
    )
    return spans.select(
        "doc_id",
        "span_start",
        "span_end",
        "n_dup_positions",
        (F.col("span_end") - F.col("span_start") + 1).alias(
            "span_tokens"
        ),
    )


@register(
    "exact_substring_dedup",
    oracle=_ES_CTE
    + ", starts AS (SELECT doc_id, pos FROM dpos WHERE occ >= 2)"
    + _ES_ISLANDS
    + f"""
    , sp AS (
        SELECT doc_id,
               list_sort(list(struct_pack(s := span_start,
                                          e := span_end))) AS rm
        FROM spans GROUP BY doc_id
    )
    SELECT tk.doc_id AS doc_id,
           CAST(len(tk.toks) AS BIGINT) AS n_tokens,
           CAST(len(tk.toks) - len([tk.toks[i]
                for i in generate_series(1, len(tk.toks))
                if len(list_filter(COALESCE(sp.rm, []),
                       x -> i >= x.s AND i <= x.e)) = 0]) AS BIGINT)
               AS removed_tokens,
           -- DuckDB's array_to_string([]) is NULL, Spark's
           -- array_join(empty) is '' — coalesce the full-removal case
           COALESCE(array_to_string([tk.toks[i]
                for i in generate_series(1, len(tk.toks))
                if len(list_filter(COALESCE(sp.rm, []),
                       x -> i >= x.s AND i <= x.e)) = 0], ' '), '')
               AS cleaned_text
    FROM tk LEFT JOIN sp ON sp.doc_id = tk.doc_id
    """,
)
def exact_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first exact-substring removal (banner above): a start is
    REDUNDANT iff an equal gram occurs at a strictly smaller
    (doc_id, pos); redundant starts merge into spans and every token
    they cover is dropped. The globally first occurrence of every
    duplicated substring survives — corpus content is preserved
    exactly once, the Lee et al. policy.

    Scale shape: redundant-start detection is the one hash shuffle;
    span merge is doc-grain windows; removal is one in-row filter per
    document (tokens x spans, both doc-bounded)."""
    from datapipelinedemo_spark.plans.corpus_ops import (
        tokenized_documents,
    )

    spans = _es_spans(
        _es_positions(spark, sf_dir)
        .filter(F.col("occ") >= 2)
        .select("doc_id", "pos")
    )
    sp = spans.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("span_start").alias("s"),
                    F.col("span_end").alias("e"),
                )
            )
        ).alias("rm")
    )
    t = tokenized_documents(spark, sf_dir).select("doc_id", "t")
    j = t.join(sp, "doc_id", "left").withColumn(
        "rm",
        F.coalesce(
            F.col("rm"),
            F.expr("cast(array() as array<struct<s: bigint, e: bigint>>)"),
        ),
    )
    kept = (
        "filter(sequence(1, size(t)),"
        " i -> size(filter(rm, x -> i >= x.s and i <= x.e)) = 0)"
    )
    return j.select(
        "doc_id",
        F.size("t").cast("long").alias("n_tokens"),
        (F.size("t") - F.size(F.expr(kept)))
        .cast("long")
        .alias("removed_tokens"),
        F.expr(
            f"array_join(transform({kept},"
            f" i -> element_at(t, cast(i as int))), ' ')"
        ).alias("cleaned_text"),
    )


@register(
    "exact_substring_batch_screen",
    oracle=_ES_CTE
    + """
    , bs AS (SELECT doc_id, pos, h FROM hs WHERE doc_id % 10 = 0),
    cs AS (SELECT DISTINCT h FROM hs WHERE doc_id % 10 <> 0),
    starts AS (
        SELECT b.doc_id, b.pos FROM bs b JOIN cs USING (h)
    )"""
    + _ES_ISLANDS
    + """
    SELECT doc_id, span_start, span_end, n_dup_positions,
           span_end - span_start + 1 AS span_tokens
    FROM spans
    """,
)
def exact_substring_batch_screen(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The ADMISSION-TIME exact-substring screen: an arriving batch
    (the ``doc_id % 10 == 0`` slice, the streaming family's
    convention) is checked against the CORPUS gram index — every
    batch span whose L-gram already exists in the corpus comes back
    as a maximal duplicated region, before the batch is admitted.
    The cross-doc contamination analogue of the MinHash
    ``incremental_dedup_candidates`` screen.

    Scale shape: the corpus side is ONE distinct-hash projection of
    the stored gram index (never re-hashed — the write-once pass);
    per batch the cost is batch-grams hashed + one semijoin against
    that index + doc-grain island windows. At a fixed admission rate
    the per-trigger cost is O(batch x hit-rate), corpus-scale
    independent."""
    from datapipelinedemo_spark.operators.neardup_index import (
        es_gram_index,
    )

    grams = es_gram_index(spark, sf_dir, _ES_L)
    batch = grams.filter(F.col("doc_id") % 10 == 0)
    corpus_h = (
        grams.filter(F.col("doc_id") % 10 != 0).select("h").distinct()
    )
    return es_screen_spans(batch, corpus_h)


def es_screen_spans(
    batch_grams: DataFrame, corpus_hashes: DataFrame
) -> DataFrame:
    """The admission-screen BODY — batch gram rows (doc_id, pos, h)
    semijoined against the corpus's distinct gram hashes, merged into
    maximal spans (``exact_substring_batch_screen``)."""
    starts = batch_grams.join(
        corpus_hashes.select("h"), "h"
    ).select("doc_id", "pos")
    spans = _es_spans(starts)
    return spans.select(
        "doc_id",
        "span_start",
        "span_end",
        "n_dup_positions",
        (F.col("span_end") - F.col("span_start") + 1).alias(
            "span_tokens"
        ),
    )


# --------------------------------------------------------------------------
# v4: the distillation swap. v3's quality stage is the CCNet LM
# filter (two corpus-wide LM chains per run); production pipelines
# train a cheap classifier ON that filter once and ship the classifier
# (GPT-3's quality classifier, DCLM's fasttext filter). v4 is v3 with
# exactly that swap: the kept set is `linear_classifier_scores`'
# predicted_head = 1 (the distilled scorer's 0.5 cut — one broadcast
# join + one in-row logit per doc at serve time, vs the LM chains),
# everything else identical. Note the POLICY differs from v3 by
# design: v3 keeps head+middle (~2/3), v4 keeps classifier-predicted
# head (~1/3, the classifier's operating point) — the entry certifies
# the composition, the accuracy entries certify the fidelity.
# --------------------------------------------------------------------------


def _v4_oracle() -> str:
    # force classifier registration: this module can be imported
    # directly (tests do), not only via catalog.load_catalog's order
    from datapipelinedemo_spark.plans import classifier_ops  # noqa: F401
    from datapipelinedemo_spark.plans.catalog import ORACLES

    base = _v3_oracle()
    old = "bk AS (SELECT doc_id, bucket FROM ({0}))".format
    # locate the bk CTE textually (built from _CCNET_NTILE_SQL)
    start = base.index("bk AS (SELECT doc_id, bucket FROM (")
    end = base.index("surv AS (")
    qc = ORACLES["linear_classifier_scores"]
    return (
        base[:start]
        + f"""qk AS (
        SELECT doc_id FROM ({qc}) s WHERE s.predicted_head = 1
    ),
    """
        + base[end:].replace(
            "JOIN bk ON bk.doc_id = d.doc_id AND bk.bucket <> 'tail'",
            "JOIN qk ON qk.doc_id = d.doc_id",
        )
    )


@register("training_corpus_pipeline_v4", oracle=_v4_oracle())
def training_corpus_pipeline_v4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``training_corpus_pipeline_v3`` with the distilled quality
    filter in place of the CCNet LM stage (banner above): near-dup
    canonicals and Bloom decontamination unchanged, the kept set is
    the in-engine-trained linear classifier's predicted-head docs,
    then the UniMax/temperature mixing and shard assignment run over
    the new survivor corpus. Output: the same per (source, shard)
    manifest row shape as v3.

    Scale shape: the quality stage is now one broadcast of 65
    weights + one in-row logit per doc (vs two corpus-wide LM
    chains); every other stage keeps its certified plan."""
    from datapipelinedemo_spark.functions import text as TX
    from datapipelinedemo_spark.functions.stable import md5_long
    from datapipelinedemo_spark.pin import pin
    from datapipelinedemo_spark.plans.classifier_ops import (
        linear_classifier_scores,
    )
    from datapipelinedemo_spark.plans.corpus_ops import (
        bloom_decontamination,
    )
    from datapipelinedemo_spark.plans.llm_ops import neardup_clusters
    from datapipelinedemo_spark.plans.selection_ops import (
        temperature_weights,
        unimax_allocate,
    )

    docs = table(spark, sf_dir, "documents")
    canon = (
        neardup_clusters(spark, sf_dir)
        .filter(F.col("doc_id") == F.col("comp"))
        .select("doc_id")
    )
    bloom = (
        bloom_decontamination(spark, sf_dir)
        .select("doc_id")
        .withColumn("__contam", F.lit(True))
    )
    kept = (
        linear_classifier_scores(spark, sf_dir)
        .filter(F.col("predicted_head") == 1)
        .select("doc_id")
    )
    # r16: surv feeds both the per-source pin and the final agg — same
    # double-lineage fix as v3
    surv = pin(  # narrow-pin: ~24 B/row (doc_id, ntok, short source tag) — survivor doc grain
        docs.filter(F.col("doc_id") % 50 != 0)
        .select(
            "doc_id",
            "source",
            F.size(TX.tokenize("text")).cast("long").alias("ntok"),
        )
        .join(canon, "doc_id")
        .join(kept, "doc_id")
        .join(bloom, "doc_id", "left")
        .filter(F.col("__contam").isNull())
        .select("doc_id", "source", "ntok")
    )
    per = pin(  # pin-bounded: |sources| rows
        surv.groupBy("source").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("ntok").cast("long").alias("n_tokens"),
        )
    )
    alloc = unimax_allocate(per.select("source", "n_tokens")).select(
        "source", "allocated_tokens"
    )
    mix = temperature_weights(per).select("source", "mix_weight")
    shard_id = (
        md5_long(F.concat(F.col("doc_id").cast("string"), F.lit("#shard")))
        % _V3_N_SHARDS
    ).alias("shard_id")
    return (
        surv.select("source", "ntok", shard_id)
        .groupBy("source", "shard_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("docs"),
            F.sum("ntok").cast("long").alias("tokens"),
        )
        .join(F.broadcast(alloc), "source")
        .join(F.broadcast(mix), "source")
    )


# --------------------------------------------------------------------------
# Leakage-safe train/test split: near-duplicates NEVER straddle the
# split. The naive doc-hash split (train_val_test_split) leaks: a
# near-dup pair lands on opposite sides with prob ~2·p·(1-p), so every
# eval doc with a training-side twin inflates the eval score — the
# contamination channel Lee et al. 2022 measure. Assign the split to
# the CLUSTER (hash its canonical min-id), let every member inherit.
# --------------------------------------------------------------------------
_LSPLIT_TEST_BUCKETS = 1000  # of 10000: a 10% test side


def _lsplit_oracle() -> str:
    from datapipelinedemo_spark.plans.llm_ops import _CC_ORACLE

    return f"""
    WITH cc AS ({_CC_ORACLE})
    SELECT doc_id, comp,
           CASE WHEN CAST('0x' || substring(md5(
                    CAST(comp AS VARCHAR) || '#lsplit'), 1, 15)
                    AS BIGINT) % 10000 < {_LSPLIT_TEST_BUCKETS}
                THEN 'test' ELSE 'train' END AS split
    FROM cc
    """


@register("leakage_safe_split", oracle=_lsplit_oracle())
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, comp, split): 90/10 train/test assignment keyed on the
    near-dup CLUSTER id (banner above) — deterministic, stable under
    corpus growth (a cluster's split never changes when new members
    arrive; new docs joining an existing cluster inherit its side),
    and leakage-free by construction: every verified Jaccard>=0.5
    pair shares a comp, hence a side (pytest-pinned, with the naive
    doc-hash split shown to straddle on the same corpus).

    Scale shape: the cluster frame is the memoized certified CC
    resolution; the split is one in-row hash on top — no new shuffle."""
    from datapipelinedemo_spark.operators.sampling import _bucket
    from datapipelinedemo_spark.plans.llm_ops import neardup_clusters

    cc = neardup_clusters(spark, sf_dir)
    return cc.select(
        "doc_id",
        "comp",
        F.when(
            _bucket(F.col("comp"), "lsplit") < _LSPLIT_TEST_BUCKETS,
            "test",
        )
        .otherwise("train")
        .alias("split"),
    )
