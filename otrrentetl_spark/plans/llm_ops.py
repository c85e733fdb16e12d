"""LLM-training-data operators as driver-contract queries with DuckDB
oracles (SURVEY.md §2.12 / §7.7): dedup (exact, MinHash, SimHash,
n-gram Jaccard), similarity search, text analysis, multimodal plumbing.

The md5-derived hash family (operators.text.hash_long) is used
everywhere precisely so DuckDB can replay the hashing bit-for-bit —
the oracle checks the *pipeline semantics*, not just row counts.
"""

from __future__ import annotations

import threading

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from otrrentetl_spark.catalog import fan_out, load_table, source_stamp
from otrrentetl_spark.functions.exprs import bind
from otrrentetl_spark.operators import dedup, multimodal, similarity, text
from otrrentetl_spark.registry import register


def _docs(spark, sf_dir):
    # fan_out: queries that run per-row HOF chains or Arrow kernels —
    # a single-row-group local scan must not pin that to 1 core.
    return fan_out(
        load_table(spark, sf_dir, "documents"), memo_key=f"documents:{sf_dir}"
    )


def _docs_flat(spark, sf_dir):
    # Also fanned out since r5: explode→partial-agg codegen plans are
    # just as scan-parallelism-bound as HOF plans — the explode and the
    # partial aggregate run pipelined INSIDE the scan stage, so a
    # few-row-group local file pins them to 1-5 cores. (The r4 "fan_out
    # is 1.3-2.7× slower for these shapes" measurement re-collected a
    # cached DataFrame, which silently reuses shuffle files and times
    # only the post-shuffle stages; fresh-plan A/B shows fan_out wins:
    # unigram surprisal 2.9→1.3 s at 10× docs.) At cluster scale the
    # scan has thousands of partitions and fan_out is a pass-through.
    # Plans that immediately repartition by a key (tfidf) use
    # load_table directly — a round-robin hop before a keyed exchange
    # would shuffle the text twice.
    return fan_out(
        load_table(spark, sf_dir, "documents"), memo_key=f"documents:{sf_dir}"
    )


def _emb(spark, sf_dir):
    return fan_out(
        load_table(spark, sf_dir, "embeddings"), memo_key=f"embeddings:{sf_dir}"
    )


def _ann_scratch(kind: str, sf_dir: str) -> str:
    """Stable per-(kind, corpus) scratch root for the ANN index
    queries, cleared on entry: every invocation rebuilds the SAME
    path instead of mkdtemp-ing a fresh index copy per run (ADVICE
    r8 — repeated microbench/cert cycles were accumulating full index
    copies in /tmp). The registry protocol never runs one query
    concurrently with itself, so the rmtree+rebuild is race-free."""
    import hashlib
    import shutil
    import tempfile

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    root = f"{tempfile.gettempdir()}/otrrentetl_ann_{kind}_{tag}"
    shutil.rmtree(root, ignore_errors=True)
    return root


_ANN_SHARE_LOCK = threading.Lock()
_ANN_SHARED: dict[tuple, object] = {}
# one build lock per key: a build runs under its own key's lock only,
# so builds of different keys overlap and a build may itself ask for
# another key's artifact
_ANN_BUILD_LOCKS: dict[tuple, threading.Lock] = {}


def _ann_source_fingerprint(sf_dir: str) -> str:
    """Content-stamp fingerprint of the embeddings source
    (catalog.source_stamp, shared with graph_ops._graph_suffix): a
    refreshed fixture gets fresh shared artifacts instead of a stale
    memo hit."""
    import hashlib
    import os
    import uuid

    try:
        mtime_ns, size = source_stamp(os.path.join(sf_dir, "embeddings.parquet"))
    except OSError:
        return uuid.uuid4().hex  # un-stat-able source: never share
    raw = f"{sf_dir}:{mtime_ns}:{size}"
    return hashlib.md5(raw.encode()).hexdigest()[:10]


def shared_ann_artifact(spark, kind: str, sf_dir: str, build):
    """SESSION-keyed share of a read-only ANN scratch artifact (r13
    verdict item 3, r14): the probe-face queries each rebuilt their
    deterministic scratch index (and the IVF faces re-ran the identical
    Lloyd training) on EVERY call — at sf0.1 the build dominated their
    walls. Within one SparkSession the first caller builds and later
    callers reuse: the same session-keyed pattern as the derived
    PageRank graph tables (plans/graph_ops.build_graph_tables) — NO
    cross-run persistence (the key includes applicationId, so a fresh
    cold-JVM bench/oracle run always rebuilds from the parquet inputs,
    with the build cost inside that run's timed region), and staleness
    is carried by the source fingerprint. Only READ-ONLY artifacts may
    use this; the mutating lifecycle (ann_refresh_probe) keeps its
    per-invocation rebuild.

    The global lock only reserves and publishes keys; ``build()`` runs
    under its own key's lock, so each key builds once, different keys
    build concurrently, and a build may call this function for another
    key (never for its own — that would wait on itself)."""
    key = (
        spark.sparkContext.applicationId,
        kind,
        _ann_source_fingerprint(sf_dir),
    )
    with _ANN_SHARE_LOCK:
        hit = _ANN_SHARED.get(key)
        if hit is not None:
            return hit
        # one live session per process: entries keyed to a previous
        # (stopped) session are dead weight — prune them
        for memo in (_ANN_SHARED, _ANN_BUILD_LOCKS):
            for stale in [k for k in memo if k[0] != key[0]]:
                del memo[stale]
        build_lock = _ANN_BUILD_LOCKS.setdefault(key, threading.Lock())
    with build_lock:
        with _ANN_SHARE_LOCK:
            hit = _ANN_SHARED.get(key)
        if hit is None:
            hit = build()
            with _ANN_SHARE_LOCK:
                _ANN_SHARED[key] = hit
        return hit


def near_dup_corpus(
    spark: SparkSession,
    sf_dir: str,
    corpus_max: int | None = None,
    near_max: int = 100,
) -> DataFrame:
    """Documents corpus with injected near-duplicates: for each doc_id
    ≤ near_max, a copy (id + 1e6) with the last ~10% of words dropped
    (Jaccard ≈ 0.9 vs the original) — the shared fixture for every
    near-dup pipeline (LSH pairs, clusters) and their DuckDB oracles.

    Plan shape: the injection branch is built from the UN-fanned scan
    so its doc_id filter pushes into the parquet scan, the token
    truncation binds the token array once (single HOF evaluation), and
    fan_out runs ONCE after the union — one small repartition instead
    of a shuffle per branch.
    """
    d0 = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    if corpus_max is not None:
        d0 = d0.filter(F.col("doc_id") <= corpus_max)
    near = d0.filter(F.col("doc_id") <= near_max).select(
        (F.col("doc_id") + 2_000_000_000).alias("doc_id"),
        bind(
            text.tokens("text"),
            lambda tk: F.concat_ws(
                " ",
                F.slice(
                    tk,
                    1,
                    F.greatest((F.size(tk) * 9 / 10).cast("int"), F.lit(1)),
                ),
            ),
        ).alias("text"),
    )
    return fan_out(d0.unionByName(near))


# ---------------------------------------------------------------- text stats
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: token/char/stopword/punct statistics + quality score."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.length("text").alias("len_chars"),
        text.token_count("text").alias("n_tok"),
        F.size(F.array_distinct(text.tokens("text"))).alias("n_uniq"),
        text.stopword_count("text", "en").alias("n_stop_en"),
        text.punct_count("text").alias("n_punct"),
        text.quality_score("text").alias("quality"),
    )


_SW_EN = ",".join(f"'{w}'" for w in text.STOPWORDS["en"])

# The ONE SQL rendering of text.quality_score (code-review r4: this
# formula previously existed as four verbatim copies — any weight
# tweak missing one copy would silently diverge a single oracle).
# Valid in any scope providing columns `text` and `toks`.
_QUALITY_SQL = f"""ROUND(GREATEST(LEAST(
               0.4 * LEAST(CAST(len(toks) AS DOUBLE) / 64.0, 1.0)
             + 0.3 * (CASE WHEN len(toks) > 0
                      THEN CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
                      ELSE 0.0 END)
             + 0.3 * LEAST((CASE WHEN len(toks) > 0
                      THEN CAST(len(list_filter(toks, t -> lower(t) IN ({_SW_EN})))
                           AS DOUBLE) / len(toks) ELSE 0.0 END) * 4, 1.0)
             - 0.2 * (CASE WHEN length(text) > 0
                      THEN CAST(length(text) - length(regexp_replace(text,
                           '[.,;:!?''"()\\[\\]{{}}-]', '', 'g')) AS DOUBLE)
                           / length(text)
                      ELSE 0.0 END)
           , 1.0), 0.0), 6)"""


register(
    "text_stats",
    text_stats,
    f"""
    WITH base AS (
      SELECT doc_id, text,
             CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks
      FROM documents
    )
    SELECT doc_id,
           length(text) AS len_chars,
           len(toks) AS n_tok,
           len(list_distinct(toks)) AS n_uniq,
           len(list_filter(toks, t -> lower(t) IN ({_SW_EN}))) AS n_stop_en,
           length(text) - length(regexp_replace(text,
               '[.,;:!?''"()\\[\\]{{}}-]', '', 'g')) AS n_punct,
           {_QUALITY_SQL} AS quality
    FROM base ORDER BY doc_id
    """,
)


def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4/fingerprinting: winnowing sketch (k=5 char-grams, window 4)
    — shared substrings ≥ 8 chars guarantee shared fingerprints."""
    d = _docs(spark, sf_dir).filter(F.col("doc_id") <= 200)
    fp = bind(
        text.winnow_fingerprints("text", k=5, w=4),
        lambda f: F.struct(
            F.array_join(f.cast("array<string>"), ",").alias("fingerprints"),
            F.size(f).alias("n_fp"),
        ),
    )
    return (
        d.select("doc_id", fp.alias("__s"))
        .select("doc_id", "__s.*")
        
    )


register(
    "text_winnow_fingerprints",
    text_winnow_fingerprints,
    r"""
    WITH n AS (
      SELECT doc_id,
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
      FROM documents WHERE doc_id <= 200
    ), g AS (
      SELECT doc_id,
             [CAST(concat('0x', substr(md5(substr(t, i, 5)), 1, 15)) AS BIGINT)
              for i in range(1, GREATEST(length(t) - 4, 1) + 1)] AS hs
      FROM n
    )
    SELECT doc_id,
           array_to_string(list_sort(list_distinct(
             [list_min(hs[j:j+3]) for j in range(1, GREATEST(len(hs) - 3, 1) + 1)]
           )), ',') AS fingerprints,
           len(list_sort(list_distinct(
             [list_min(hs[j:j+3]) for j in range(1, GREATEST(len(hs) - 3, 1) + 1)]
           ))) AS n_fp
    FROM g ORDER BY doc_id
    """,
)


def text_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: corpus token budgeting — whitespace tokens vs the BPE-ish
    subword proxy (alpha runs + digit/symbol singletons), plus the
    chars-per-token ratio quality gates key on."""
    d = _docs(spark, sf_dir)
    bpe = text.bpe_token_count("text")
    return d.select(
        "doc_id",
        text.token_count("text").alias("n_ws_tok"),
        bpe.alias("n_bpe_tok"),
        F.round(
            F.when(bpe > 0, F.length("text").cast("double") / bpe).otherwise(0.0), 6
        ).alias("chars_per_tok"),
    )


register(
    "text_token_budget",
    text_token_budget,
    r"""
    WITH base AS (
      SELECT doc_id, text,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_ws,
             len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]'))
               AS n_bpe
      FROM documents
    )
    SELECT doc_id, n_ws AS n_ws_tok, n_bpe AS n_bpe_tok,
           ROUND(CASE WHEN n_bpe > 0
                 THEN CAST(length(text) AS DOUBLE) / n_bpe ELSE 0.0 END, 6)
             AS chars_per_tok
    FROM base ORDER BY doc_id
    """,
)


# ------------------------------------------------------------------- lang id
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: stopword-heuristic language ID vs the labeled lang column."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        "lang",
        text.lang_id("text").alias("lang_pred"),
        (text.lang_id("text") == F.col("lang")).alias("agree"),
    )


def _sw_list(lang: str) -> str:
    return ",".join(f"'{w}'" for w in text.STOPWORDS[lang])


_LANG_SCORES_SQL = ",\n".join(
    f"len(list_filter(toks, t -> lower(t) IN ({_sw_list(lang)}))) AS s_{lang}"
    for lang in sorted(text.STOPWORDS)
)

register(
    "lang_id_heuristic",
    lang_id_heuristic,
    f"""
    WITH base AS (
      SELECT doc_id, lang,
             CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks
      FROM documents
    ), scored AS (
      SELECT doc_id, lang, {_LANG_SCORES_SQL},
             GREATEST(
               len(list_filter(toks, t -> lower(t) IN ({_sw_list('de')}))),
               len(list_filter(toks, t -> lower(t) IN ({_sw_list('en')}))),
               len(list_filter(toks, t -> lower(t) IN ({_sw_list('es')}))),
               len(list_filter(toks, t -> lower(t) IN ({_sw_list('fr')})))
             ) AS m
      FROM base
    )
    SELECT doc_id, lang,
           CASE WHEN m <= 0 THEN 'und'
                WHEN s_de = m THEN 'de'
                WHEN s_en = m THEN 'en'
                WHEN s_es = m THEN 'es'
                ELSE 'fr' END AS lang_pred,
           (CASE WHEN m <= 0 THEN 'und'
                 WHEN s_de = m THEN 'de'
                 WHEN s_en = m THEN 'en'
                 WHEN s_es = m THEN 'es'
                 ELSE 'fr' END) = lang AS agree
    FROM scored ORDER BY doc_id
    """,
)


# -------------------------------------------------------------- fingerprints
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: content fingerprints — md5 of normalized text + 60-bit
    numeric form (engine-portable rolling identity)."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        text.fingerprint_hex("text").alias("fp_hex"),
        text.fingerprint_long("text").alias("fp_long"),
    )


register(
    "text_fingerprint",
    text_fingerprint,
    """
    WITH n AS (
      SELECT doc_id,
             trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
      FROM documents
    )
    SELECT doc_id, md5(norm) AS fp_hex,
           CAST(concat('0x', substr(md5(norm), 1, 15)) AS BIGINT) AS fp_long
    FROM n ORDER BY doc_id
    """,
)


# ------------------------------------------------------------ exact dedup X1
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1: exact dedup. The corpus is all-distinct, so duplicates are
    injected (same text, shifted ids); the dedup must keep exactly the
    original min-id row per content."""
    d = _docs_flat(spark, sf_dir)
    # Inject the duplicates AFTER hashing, not by unioning two scans:
    # the md5 content hash is copy-invariant, so it is computed once
    # per base doc and the (id, id+2e9) pair explodes off the hashed
    # row — the former unionByName scanned, fanned out and hashed the
    # corpus twice (two exchanges of the full text). Same groups, same
    # min-id survivors; the dedup aggregate still sees all 2N rows.
    from otrrentetl_spark.operators.text import normalize_text

    both = d.select(
        F.coalesce(F.md5(normalize_text("text")), F.lit("~null~")).alias(
            "__h"
        ),
        F.explode(
            F.array(F.col("doc_id"), F.col("doc_id") + 2_000_000_000)
        ).alias("doc_id"),
    )
    # ids_only: the accounting face needs survivor IDS, so the
    # operator's one content-hash aggregate is the whole plan — no
    # survivor join (the full-row path is pytest-covered)
    return dedup.exact_dedup(
        both, "text", "doc_id", ids_only=True, hash_col="__h"
    )


register(
    "dedup_exact",
    dedup_exact,
    """
    WITH unioned AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 2000000000 AS doc_id, text FROM documents
    ), keep AS (
      SELECT min(doc_id) AS doc_id
      FROM unioned
      GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
    )
    SELECT doc_id FROM keep ORDER BY doc_id
    """,
)


# -------------------------------------------------------- MinHash (X2) oracle
_MH_HASHES = 4
_MH_N = 3


def dedup_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 core: per-doc MinHash signature (word-3-gram shingles, one
    md5 base hash per shingle + universal-hash permutations
    ``((2i+1)·h + i·C) mod P``) — the oracle replays the exact math."""
    d = _docs(spark, sf_dir).filter(F.col("doc_id") <= 200)
    sig = dedup.minhash_signature("text", _MH_HASHES, _MH_N)
    # bind: expand the signature array into columns without re-running
    # the signature expression once per output column.
    s = bind(
        sig,
        lambda sg: F.struct(
            *[F.element_at(sg, i + 1).alias(f"mh{i}") for i in range(_MH_HASHES)]
        ),
    )
    return d.select("doc_id", s.alias("__s")).select("doc_id", "__s.*")


def _mh_sql() -> str:
    mins = ",\n".join(
        "list_min(list_transform(grams, s -> "
        f"((CAST(concat('0x', substr(md5(concat('mh:', s)), 1, 15)) AS BIGINT) "
        f"% {dedup._MH_P}) * {2 * i + 1} + {i * dedup._MH_C}) "
        f"% {dedup._MH_P})) AS mh{i}"
        for i in range(_MH_HASHES)
    )
    return f"""
    WITH base AS (
      SELECT doc_id,
             CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks
      FROM documents WHERE doc_id <= 200
    ), sh AS (
      SELECT doc_id,
             list_distinct([array_to_string(toks[i:i+{_MH_N - 1}], ' ')
                            for i in range(1, GREATEST(len(toks) - {_MH_N - 1}, 1) + 1)])
               AS grams
      FROM base
    )
    SELECT doc_id, {mins}
    FROM sh ORDER BY doc_id
    """


register("dedup_minhash_signature", dedup_minhash_signature, _mh_sql())


def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 full pipeline on the Arrow-kernel fast path: banded LSH
    candidate mining + exact Jaccard verify, over a corpus with
    injected near-duplicates. The kernel emits BIT-IDENTICAL band
    hashes to the HOF/md5 expression path (operators.dedup parity
    contract), so the full pipeline is oracle-checked by DuckDB
    replaying signatures, banding, candidate join, and verify."""
    both = near_dup_corpus(spark, sf_dir, near_max=100)
    return dedup.minhash_lsh_pairs(
        both, num_hashes=16, bands=4, jaccard_threshold=0.5
    )


# ------------------------------------------------------------- SimHash (X2c)
_SH_BITS = 16


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2c: 16-bit SimHash sketch per document (64-bit in the library;
    16 keeps the oracle SQL tractable while checking every moving part:
    token hashing, per-bit voting, sign assembly)."""
    d = _docs(spark, sf_dir).filter(F.col("doc_id") <= 200)
    return d.select(
        "doc_id", dedup.simhash("text", _SH_BITS).alias("sketch")
    )


def _simhash_sql() -> str:
    votes = " + ".join(
        f"(CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h >> {b}) & 1 = 1 "
        f"THEN 1 ELSE -1 END)) > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(_SH_BITS)
    )
    return f"""
    WITH base AS (
      SELECT doc_id,
             CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks
      FROM documents WHERE doc_id <= 200
    ), hashed AS (
      SELECT doc_id,
             list_transform(toks, t -> CAST(concat('0x',
                 substr(md5(t), 1, 15)) AS BIGINT)) AS hs
      FROM base
    )
    SELECT doc_id, CAST(COALESCE({votes}, 0) AS BIGINT) AS sketch
    FROM hashed ORDER BY doc_id
    """


register("dedup_simhash", dedup_simhash, _simhash_sql())


# ---------------------------------------------------- n-gram Jaccard (X2b)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2b: exact char-5-gram Jaccard pairs over a small near-dup
    corpus (originals ≤ 60 + truncated copies), length-banded."""
    d = _docs(spark, sf_dir).filter(F.col("doc_id") <= 60)
    near = d.select(
        (F.col("doc_id") + 2_000_000_000).alias("doc_id"),
        F.substring("text", 1, 200).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    both = d.unionByName(near)
    return dedup.ngram_jaccard_pairs(both, n=5, threshold=0.5)


register(
    "dedup_ngram_jaccard",
    dedup_ngram_jaccard,
    """
    WITH unioned AS (
      SELECT doc_id, text FROM documents WHERE doc_id <= 60
      UNION ALL
      SELECT doc_id + 2000000000 AS doc_id, substr(text, 1, 200) AS text
      FROM documents WHERE doc_id <= 60
    ), base AS (
      SELECT doc_id AS id,
             list_distinct([substr(norm, i, 5)
                            for i in range(1, GREATEST(length(norm) - 4, 1) + 1)])
               AS grams,
             length(norm) // 32 AS lband
      FROM (SELECT doc_id,
                   trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
            FROM unioned)
    )
    SELECT l.id AS id_a, r.id AS id_b,
           ROUND(CAST(len(list_intersect(l.grams, r.grams)) AS DOUBLE)
                 / NULLIF(len(list_distinct(list_concat(l.grams, r.grams))), 0),
                 6) AS jaccard_sim
    FROM base l JOIN base r
      ON (r.lband - l.lband) IN (-1, 0, 1) AND l.id < r.id
    WHERE CAST(len(list_intersect(l.grams, r.grams)) AS DOUBLE)
          / NULLIF(len(list_distinct(list_concat(l.grams, r.grams))), 0) >= 0.5
    ORDER BY id_a, id_b
    """,
)


# ------------------------------------------------------- similarity (X3)
def similarity_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 baseline: exact cosine top-k against the vec_id=0 query
    vector, as ONE distributed plan (broadcast single-row cross join —
    no driver-side collect of the query vector)."""
    emb = _emb(spark, sf_dir)
    qrow = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qvec")
    )
    joined = emb.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(qrow))
    return (
        joined.select(
            "vec_id",
            "label",
            F.round(
                similarity.cosine(F.col("embedding"), F.col("qvec")), 6
            ).alias("cosine_sim"),
        )
        .orderBy(F.col("cosine_sim").desc(), F.col("vec_id"))
        .limit(20)
    )


register(
    "similarity_bruteforce_topk",
    similarity_bruteforce_topk,
    """
    WITH q AS (
      SELECT CAST(embedding AS DOUBLE[]) AS qvec FROM embeddings WHERE vec_id = 0
    )
    SELECT vec_id, label,
           ROUND(
             list_dot_product(CAST(embedding AS DOUBLE[]), qvec)
             / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                      CAST(embedding AS DOUBLE[])))
                * sqrt(list_dot_product(qvec, qvec))), 6) AS cosine_sim
    FROM embeddings, q WHERE vec_id <> 0
    ORDER BY cosine_sim DESC, vec_id
    LIMIT 20
    """,
)


def similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 scale path: random-hyperplane LSH pruning + exact cosine on
    survivors. The oracle replays the deterministic hyperplane
    signatures and bucket probing; recall vs brute force is
    additionally asserted in tests."""
    emb = _emb(spark, sf_dir)
    qvec = [r[0] for r in
            spark.createDataFrame([(1,)], "x int").crossJoin(
                F.broadcast(emb.filter(F.col("vec_id") == 0).select("embedding"))
            ).select(F.explode("embedding")).collect()]
    return similarity.ann_topk_lsh(
        emb.filter(F.col("vec_id") != 0), qvec, k=20, n_planes=12, max_hamming=2
    )


def _plane_terms(vec_expr: str, n_planes: int = 12, dim: int = 64) -> str:
    """DuckDB expression for the LSH sign-pattern signature of
    ``vec_expr`` (a DOUBLE[] expression) under the engine's fixed
    seeded hyperplanes. list_dot_product reproduces the HOF
    zip_with/aggregate dot bit-for-bit (verified over the full
    embeddings table), so bucket ids agree across engines."""
    planes = similarity.hyperplanes(dim, n_planes)
    return " + ".join(
        "(CASE WHEN list_dot_product({v}, {h!r}) > 0 THEN {b} ELSE 0 END)".format(
            v=vec_expr, h=[float(x) for x in planes[j]], b=1 << j
        )
        for j in range(n_planes)
    )


def _ann_lsh_sql() -> str:
    return f"""
    WITH q AS (
      SELECT CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id = 0
    ), qs AS (
      SELECT CAST({_plane_terms('qv')} AS BIGINT) AS qsig FROM q
    ), sig AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             CAST({_plane_terms('CAST(embedding AS DOUBLE[])')} AS BIGINT) AS sig
      FROM embeddings WHERE vec_id <> 0
    )
    SELECT s.vec_id,
           ROUND(list_dot_product(s.v, q.qv)
                 / (sqrt(list_dot_product(s.v, s.v))
                    * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine_sim
    FROM sig s, qs, q
    WHERE bit_count(xor(s.sig, qs.qsig)) <= 2
    ORDER BY cosine_sim DESC, s.vec_id
    LIMIT 20
    """


register("similarity_ann_lsh", similarity_ann_lsh, _ann_lsh_sql())


def similarity_ann_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 PERSISTED scale path (r7 verdict item 2): the LSH signatures
    are materialized once into a prefix-partitioned keyed table
    (operators/annindex.py) and the probe reads ONLY the hamming
    ball's partitions — same params as ``similarity_ann_lsh``, so the
    result (and the oracle) is bit-identical to the inline form while
    the probe's inputFiles are a strict subset (tests/test_annindex.py
    asserts both). At 100 TB this is the difference between a full
    corpus scan per query and reading ≤ 22 of 64 bucket directories."""
    from otrrentetl_spark.operators.annindex import AnnLshIndex

    emb = _emb(spark, sf_dir)
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0)
        .select("embedding")
        .first()[0]
    ]
    idx = shared_ann_artifact(
        spark,
        "lsh_idx",
        sf_dir,
        lambda: AnnLshIndex.build(
            spark,
            emb.filter(F.col("vec_id") != 0),
            _ann_scratch("lsh_idx", sf_dir),
            n_planes=12,
            prefix_bits=6,
        ),
    )
    return idx.topk(qvec, k=20, max_hamming=2)


# same oracle as the inline form: the index is a physical layout, not
# a semantics change
register("similarity_ann_indexed", similarity_ann_indexed, _ann_lsh_sql())


def similarity_knn_join_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 batch face over the PERSISTED index: the whole query set
    (vec_id < 10) joins the LSH index in one pruned scan + one
    broadcast join — per-query balls explode as XOR-mask literals and
    equi-join the full signature (`AnnLshIndex.knn_join`) — instead of
    ten separate probe plans. The ANN pruning is semantic here (only
    ball survivors are scored, unlike `similarity_knn_join`'s exact
    brute force), so the oracle models the hamming gate explicitly."""
    from otrrentetl_spark.operators.annindex import AnnLshIndex

    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    idx = shared_ann_artifact(
        spark,
        "knn_idx",
        sf_dir,
        lambda: AnnLshIndex.build(
            spark,
            emb.filter(F.col("vec_id") >= 10),
            _ann_scratch("knn_idx", sf_dir),
            n_planes=12,
            prefix_bits=6,
        ),
    )
    return idx.knn_join(q, k=3, max_hamming=2)


register(
    "similarity_knn_join_indexed",
    similarity_knn_join_indexed,
    f"""
    WITH q AS (
      SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qvec
      FROM embeddings WHERE vec_id < 10
    ), qs AS (
      SELECT qid, qvec, CAST({_plane_terms('qvec')} AS BIGINT) AS qsig
      FROM q
    ), sig AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             CAST({_plane_terms('CAST(embedding AS DOUBLE[])')} AS BIGINT)
               AS sig
      FROM embeddings WHERE vec_id >= 10
    ), scored AS (
      SELECT qs.qid, s.vec_id,
             ROUND(list_dot_product(s.v, qs.qvec)
                   / (sqrt(list_dot_product(s.v, s.v))
                      * sqrt(list_dot_product(qs.qvec, qs.qvec))), 6)
               AS cosine_sim
      FROM sig s JOIN qs ON bit_count(xor(s.sig, qs.qsig)) <= 2
    ), ranked AS (
      SELECT qid, vec_id, cosine_sim,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY cosine_sim DESC, vec_id) AS rk
      FROM scored
    )
    SELECT qid, vec_id, cosine_sim, rk
    FROM ranked WHERE rk <= 3
    ORDER BY qid, rk
    """,
)


def similarity_knn_join_bulk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 DISTRIBUTED batch face (r8 verdict item 1): the query corpus
    (vec_id < 25) joins the LSH index WITHOUT ever collecting to the
    driver — signatures are computed executor-side with the same
    ``lsh_bucket`` fold the build used, each query row explodes into
    its hamming ball, and a shuffle equi-join on the full signature
    meets the index (tools/ann_scale.py pins this at 100k queries ×
    2M vectors, where the broadcast face's driver collect would be
    unreasonable). Same ball semantics as ``similarity_knn_join_
    indexed``, so the oracle models the identical hamming gate — and
    the broadcast face is row-identical by the fold-twin contract
    (tests/test_annindex.py)."""
    from otrrentetl_spark.operators.annindex import AnnLshIndex

    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 25).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    idx = shared_ann_artifact(
        spark,
        "knn_bulk_idx",
        sf_dir,
        lambda: AnnLshIndex.build(
            spark,
            emb.filter(F.col("vec_id") >= 25),
            _ann_scratch("knn_bulk_idx", sf_dir),
            n_planes=12,
            prefix_bits=6,
        ),
    )
    return idx.knn_join_bulk(q, k=3, max_hamming=2)


register(
    "similarity_knn_join_bulk",
    similarity_knn_join_bulk,
    f"""
    WITH q AS (
      SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qvec
      FROM embeddings WHERE vec_id < 25
    ), qs AS (
      SELECT qid, qvec, CAST({_plane_terms('qvec')} AS BIGINT) AS qsig
      FROM q
    ), sig AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             CAST({_plane_terms('CAST(embedding AS DOUBLE[])')} AS BIGINT)
               AS sig
      FROM embeddings WHERE vec_id >= 25
    ), scored AS (
      SELECT qs.qid, s.vec_id,
             ROUND(list_dot_product(s.v, qs.qvec)
                   / (sqrt(list_dot_product(s.v, s.v))
                      * sqrt(list_dot_product(qs.qvec, qs.qvec))), 6)
               AS cosine_sim
      FROM sig s JOIN qs ON bit_count(xor(s.sig, qs.qsig)) <= 2
    ), ranked AS (
      SELECT qid, vec_id, cosine_sim,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY cosine_sim DESC, vec_id) AS rk
      FROM scored
    )
    SELECT qid, vec_id, cosine_sim, rk
    FROM ranked WHERE rk <= 3
    ORDER BY qid, rk
    """,
)


def embedding_dedup_vs_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-dedup against a REFERENCE corpus — the job the bulk join
    exists for: a candidate batch (fresh ids < 40 plus re-keyed scaled
    copies of indexed vectors — scaling preserves direction, so a copy
    is a planted near-duplicate in the same LSH bucket) checks
    membership against the persisted index; every (candidate, indexed)
    pair within the hamming ball at cosine ≥ 0.98 comes back, fully
    distributed (no driver collect of the candidate corpus). The
    oracle replays the hamming gate + threshold exactly."""
    from otrrentetl_spark.operators.annindex import AnnLshIndex

    emb = _emb(spark, sf_dir)
    idx = shared_ann_artifact(
        spark,
        "dedup_idx",
        sf_dir,
        lambda: AnnLshIndex.build(
            spark,
            emb.filter(F.col("vec_id") >= 40),
            _ann_scratch("dedup_idx", sf_dir),
            n_planes=12,
            prefix_bits=6,
        ),
    )
    copies = emb.filter(F.col("vec_id").between(80, 99)).select(
        (F.col("vec_id") + 2_000_000_000).alias("qid"),
        F.transform(
            "embedding", lambda x: (x.cast("double") * 1.001).cast("float")
        ).alias("qvec"),
    )
    cands = (
        emb.filter(F.col("vec_id") < 40)
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
        .unionByName(copies)
    )
    return idx.near_dup_join(cands, threshold=0.98, max_hamming=2).orderBy(
        "qid", "vec_id"
    )


register(
    "embedding_dedup_vs_index",
    embedding_dedup_vs_index,
    f"""
    WITH cand AS (
      SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qvec
      FROM embeddings WHERE vec_id < 40
      UNION ALL
      SELECT vec_id + 2000000000 AS qid,
             CAST(list_transform(embedding,
                  x -> CAST(CAST(x AS DOUBLE) * 1.001 AS FLOAT))
                  AS DOUBLE[]) AS qvec
      FROM embeddings WHERE vec_id BETWEEN 80 AND 99
    ), qs AS (
      SELECT qid, qvec, CAST({_plane_terms('qvec')} AS BIGINT) AS qsig
      FROM cand
    ), sig AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             CAST({_plane_terms('CAST(embedding AS DOUBLE[])')} AS BIGINT)
               AS sig
      FROM embeddings WHERE vec_id >= 40
    )
    SELECT qs.qid, s.vec_id,
           ROUND(list_dot_product(s.v, qs.qvec)
                 / (sqrt(list_dot_product(s.v, s.v))
                    * sqrt(list_dot_product(qs.qvec, qs.qvec))), 6)
             AS cosine_sim
    FROM sig s JOIN qs ON bit_count(xor(s.sig, qs.qsig)) <= 2
    WHERE ROUND(list_dot_product(s.v, qs.qvec)
                / (sqrt(list_dot_product(s.v, s.v))
                   * sqrt(list_dot_product(qs.qvec, qs.qvec))), 6) >= 0.98
    ORDER BY qid, vec_id
    """,
)


def ann_refresh_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end INCREMENTAL index maintenance (r8 verdict item 5,
    promoting the pytest-only ``apply_changes`` to the registry): a
    keyed BASE table of vectors emits a change-feed batch after
    updates that MOVE vectors across buckets (negation flips every
    LSH sign bit), deletes, and inserts; folding the batch into the
    index must leave a probe identical to a from-scratch rebuild over
    the mutated corpus — which is exactly what the oracle computes."""
    from otrrentetl_spark.operators.annindex import AnnLshIndex
    from otrrentetl_spark.operators.merge import KeyedParquetTable
    from otrrentetl_spark.streaming.changefeed import ChangeFeed

    emb = _emb(spark, sf_dir)
    scratch = _ann_scratch("refresh", sf_dir)
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0)
        .select("embedding")
        .first()[0]
    ]
    base = KeyedParquetTable(
        spark, f"{scratch}/base", keys=("grp", "vec_id")
    )
    base.retain_stale_s = 3600.0
    seed = emb.filter(F.col("vec_id").between(1, 400)).select(
        (F.col("vec_id") % 4).alias("grp"), "vec_id", "embedding"
    )
    base.overwrite(seed)
    idx = AnnLshIndex.build(
        spark,
        base.read(),
        f"{scratch}/lsh",
        n_planes=12,
        prefix_bits=6,
        id_col="vec_id",
    )
    # include_preimage: updates carry their OLD vector, so the index
    # folds the batch with zero index reads (batch-proportional
    # refresh — r9 verdict item 1)
    feed = ChangeFeed(
        base, f"{scratch}/ckpt.json", initial="latest",
        include_preimage=True,
    )
    feed.poll(lambda df, a, b: None)  # pin current version

    # partition grp=1: ids ≤ 300 negated (update, moved bucket — the
    # upsert is per-KEY, untouched keys survive), two re-keyed copies
    # at the +2e9 collision-free offset (insert)
    g1 = seed.filter(F.col("grp") == 1)
    upd = g1.filter(F.col("vec_id") <= 300).select(
        "grp",
        "vec_id",
        F.transform("embedding", lambda x: -x).alias("embedding"),
    )
    ins = g1.filter(F.col("vec_id").isin(1, 5)).select(
        "grp",
        (F.col("vec_id") + 2_000_000_000).alias("vec_id"),
        "embedding",
    )
    base.upsert_replace_partitions(upd.unionByName(ins))
    # deletes: the grp=1 tail plus surgical keys in another partition
    base.delete_by_keys(
        g1.filter(F.col("vec_id") > 300)
        .select("grp", "vec_id")
        .unionByName(
            spark.createDataFrame(
                [(2, 2), (2, 6)], "grp long, vec_id long"
            )
        )
    )

    def apply_batch(df, _a, _b):
        idx.apply_changes(
            df.select(
                F.col("vec_id").alias("id"),
                F.col("embedding").alias("v"),
                "change_type",
            )
        )

    feed.poll(apply_batch)
    # physical maintenance between fold and probe (r9 verdict item 6
    # extension): compaction + history expiry must be value-invisible
    # — the oracle rebuild knows nothing about file layout, so any
    # row the maintenance pass touched wrongly breaks the hash here
    idx.maintain(max_files_per_partition=4, keep_history=2)
    return idx.topk(qvec, k=20, max_hamming=3)


register(
    "ann_refresh_probe",
    ann_refresh_probe,
    f"""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id BETWEEN 1 AND 400
    ), mutated AS (
      SELECT vec_id, v FROM base
      WHERE vec_id % 4 <> 1 AND vec_id NOT IN (2, 6)
      UNION ALL
      SELECT vec_id, list_transform(v, x -> -x) AS v FROM base
      WHERE vec_id % 4 = 1 AND vec_id <= 300
      UNION ALL
      SELECT vec_id + 2000000000 AS vec_id, v FROM base
      WHERE vec_id IN (1, 5)
    ), q AS (
      SELECT CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id = 0
    ), qs AS (
      SELECT CAST({_plane_terms('qv')} AS BIGINT) AS qsig FROM q
    ), sig AS (
      SELECT vec_id, v,
             CAST({_plane_terms('v')} AS BIGINT) AS sig
      FROM mutated
    )
    SELECT s.vec_id,
           ROUND(list_dot_product(s.v, q.qv)
                 / (sqrt(list_dot_product(s.v, s.v))
                    * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine_sim
    FROM sig s, qs, q
    WHERE bit_count(xor(s.sig, qs.qsig)) <= 3
    ORDER BY cosine_sim DESC, s.vec_id
    LIMIT 20
    """,
)


def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-dedup in embedding space: LSH-bucketed exact-cosine pairs over
    a corpus with injected near-identical vectors."""
    emb = _emb(spark, sf_dir)
    # +2e9, NOT +1e6: injected synthetic ids must live outside the
    # scale-fixture replica id space (replica r re-keys at +r*1e6), or
    # the jittered ids collide with replica-1's real vec_ids at 10x+
    # (caught by the r13 sf1 sweep: 51 equal-id pairs the oracle's
    # id_a < id_b predicate drops but positional pair enumeration
    # keeps). The repo-wide fixture invariant is documented in
    # tools/scale_fixture.py.
    jittered = emb.filter(F.col("vec_id") <= 50).select(
        (F.col("vec_id") + 2_000_000_000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x.cast("double") * 1.001).cast("float")
        ).alias("embedding"),
        "label",
    )
    both = emb.unionByName(jittered)
    return similarity.embedding_near_dup_pairs(both, threshold=0.99)


def _near_dup_sql() -> str:
    return f"""
    WITH unioned AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      UNION ALL
      SELECT vec_id + 2000000000 AS vec_id,
             CAST(list_transform(embedding,
                  x -> CAST(CAST(x AS DOUBLE) * 1.001 AS FLOAT)) AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id <= 50
    ), sig AS (
      SELECT vec_id, v, CAST({_plane_terms('v')} AS BIGINT) AS sig
      FROM unioned
    ), bucket_ok AS (
      -- the engine's max_bucket_size cap, modeled (ADVICE r4)
      SELECT sig FROM sig GROUP BY sig HAVING COUNT(*) <= 1000
    )
    SELECT l.vec_id AS id_a, r.vec_id AS id_b,
           ROUND(list_dot_product(l.v, r.v)
                 / (sqrt(list_dot_product(l.v, l.v))
                    * sqrt(list_dot_product(r.v, r.v))), 6) AS cosine_sim
    FROM sig l
    JOIN bucket_ok k ON l.sig = k.sig
    JOIN sig r ON l.sig = r.sig AND l.vec_id < r.vec_id
    -- threshold on the ROUNDED cosine, matching the engine exactly:
    -- embedding_near_dup_pairs filters round(cos, 6) >= t, so a pair
    -- at raw cosine 0.98999951 is a keeper on both sides; filtering
    -- raw here would make pairs in [t - 5e-7, t) engine-only.
    WHERE ROUND(list_dot_product(l.v, r.v)
          / (sqrt(list_dot_product(l.v, l.v))
             * sqrt(list_dot_product(r.v, r.v))), 6) >= 0.99
    ORDER BY id_a, id_b
    """


register("embedding_near_dup", embedding_near_dup, _near_dup_sql())


# ------------------------------------------------------ multimodal plumbing
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal column plumbing: documents → binary media table →
    Arrow-batched mapInPandas feature extraction (decode stubbed, see
    operators.multimodal). Oracle checks the binary payload identity
    (byte length + md5) — the part an external engine can replay."""
    media = multimodal.build_media_table(_docs(spark, sf_dir))
    feats = multimodal.extract_features(media)
    return feats.select("media_id", "kind", "n_bytes", "payload_md5", "decoded")


register(
    "multimodal_features",
    multimodal_features,
    """
    SELECT doc_id AS media_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio'
                ELSE 'video' END AS kind,
           octet_length(CAST(text AS BLOB)) AS n_bytes,
           md5(text) AS payload_md5,
           FALSE AS decoded
    FROM documents ORDER BY media_id
    """,
)


_PNG_W = 32  # fixture image width (bytes of utf-8 text as gray pixels)


def multimodal_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode, end-to-end oracle-checked: for every
    image-kind doc the engine builds a genuine grayscale PNG (pixels =
    the utf-8 text bytes at width 32, zero-padded final row; scanlines
    cycle through ALL five PNG filter types), then decodes it with the
    pure-Python decoder (zlib inflate + per-filter unfiltering,
    operators/multimodal.py) and emits pixel statistics. DuckDB never
    sees a PNG — it computes the same statistics analytically from the
    text bytes, so any defect in the encoder, the inflater, or any of
    the five unfilter paths breaks the value hash."""
    d = (
        _docs_flat(spark, sf_dir)
        .filter(F.col("doc_id") % 3 == 0)
        .select("doc_id", "text")
    )

    def op(batches):
        import pandas as pd

        for pdf in batches:
            ids, dec, ws, hs, means, mins, maxs, ns = [], [], [], [], [], [], [], []
            for did, txt in zip(pdf["doc_id"], pdf["text"]):
                data = (txt or "").encode("utf-8")
                h = max(-(-len(data) // _PNG_W), 1)
                padded = data + bytes(_PNG_W * h - len(data))
                png = multimodal.encode_gray_png(padded, _PNG_W)
                feat, ok = multimodal._decode_features(png, "image")
                ids.append(did)
                dec.append(ok)
                ws.append(int(feat[0]))
                hs.append(int(feat[1]))
                means.append(feat[4])
                mins.append(int(feat[5]))
                maxs.append(int(feat[6]))
                ns.append(int(feat[7]))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "decoded": pd.Series(dec, dtype="bool"),
                    "width": pd.Series(ws, dtype="int32"),
                    "height": pd.Series(hs, dtype="int32"),
                    "mean_px": pd.Series(means, dtype="float64"),
                    "min_px": pd.Series(mins, dtype="int32"),
                    "max_px": pd.Series(maxs, dtype="int32"),
                    "n_px": pd.Series(ns, dtype="int64"),
                }
            )

    return d.mapInPandas(
        op,
        "media_id long, decoded boolean, width int, height int,"
        " mean_px double, min_px int, max_px int, n_px long",
    )


register(
    "multimodal_png_decode",
    multimodal_png_decode,
    f"""
    WITH img AS (
      SELECT doc_id AS media_id, CAST(text AS BLOB) AS b
      FROM documents WHERE doc_id % 3 = 0
    ), dims AS (
      SELECT media_id, b, octet_length(b) AS n,
             GREATEST(CAST(ceil(octet_length(b) / {_PNG_W}.0) AS BIGINT), 1) AS h
      FROM img
    ), px AS (
      SELECT media_id, n, h,
             CASE WHEN n = 0 THEN CAST([] AS INT[])
                  ELSE list_transform(range(1, n + 1),
                       i -> CAST(concat('0x', substr(hex(b), 2*i - 1, 2)) AS INT))
             END AS vals
      FROM dims
    )
    SELECT media_id, TRUE AS decoded,
           {_PNG_W} AS width, CAST(h AS INT) AS height,
           ROUND(CAST(COALESCE(list_sum(vals), 0) AS DOUBLE) / ({_PNG_W} * h), 6)
             AS mean_px,
           CAST(CASE WHEN {_PNG_W} * h > n THEN 0
                     ELSE list_min(vals) END AS INT) AS min_px,
           CAST(CASE WHEN n = 0 THEN 0 ELSE list_max(vals) END AS INT) AS max_px,
           CAST({_PNG_W} * h AS BIGINT) AS n_px
    FROM px ORDER BY media_id
    """,
)


def multimodal_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode, end-to-end oracle-checked: for every
    audio-kind doc the engine synthesizes 16-bit PCM samples from the
    text's code points ((cp % 256 - 128) * 128), wraps them in a
    genuine RIFF/WAVE container, decodes THAT with the pure-Python
    WAV parser, and emits sample statistics. DuckDB computes the same
    statistics directly from the code points — a container-format or
    sample-extraction bug breaks the value hash."""
    d = (
        _docs_flat(spark, sf_dir)
        .filter(F.col("doc_id") % 3 == 1)
        .select("doc_id", "text")
    )

    def op(batches):
        import pandas as pd

        for pdf in batches:
            ids, dec, rates, ns, means, mins, maxs, rms = [], [], [], [], [], [], [], []
            for did, txt in zip(pdf["doc_id"], pdf["text"]):
                samples = [(ord(c) % 256 - 128) * 128 for c in (txt or "")]
                wav = multimodal.encode_wav_pcm16(samples, 16000)
                feat, ok = multimodal._decode_features(wav, "audio")
                ids.append(did)
                dec.append(ok)
                rates.append(int(feat[0]))
                ns.append(int(feat[3]))
                means.append(feat[4])
                mins.append(int(feat[5]))
                maxs.append(int(feat[6]))
                rms.append(feat[7])
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "decoded": pd.Series(dec, dtype="bool"),
                    "sample_rate": pd.Series(rates, dtype="int32"),
                    "n_samples": pd.Series(ns, dtype="int64"),
                    "mean_s": pd.Series(means, dtype="float64"),
                    "min_s": pd.Series(mins, dtype="int32"),
                    "max_s": pd.Series(maxs, dtype="int32"),
                    "rms_s": pd.Series(rms, dtype="float64"),
                }
            )

    return d.mapInPandas(
        op,
        "media_id long, decoded boolean, sample_rate int, n_samples long,"
        " mean_s double, min_s int, max_s int, rms_s double",
    )


register(
    "multimodal_wav_decode",
    multimodal_wav_decode,
    """
    WITH aud AS (
      SELECT doc_id AS media_id, text
      FROM documents WHERE doc_id % 3 = 1
    ), sm AS (
      SELECT media_id,
             CASE WHEN length(text) = 0 THEN CAST([] AS INT[])
                  ELSE list_transform(string_split(text, ''),
                       c -> (unicode(c) % 256 - 128) * 128)
             END AS s
      FROM aud
    )
    SELECT media_id, TRUE AS decoded,
           16000 AS sample_rate,
           CAST(len(s) AS BIGINT) AS n_samples,
           CASE WHEN len(s) = 0 THEN 0.0
                ELSE ROUND(CAST(list_sum(s) AS DOUBLE) / len(s), 6)
           END AS mean_s,
           CAST(CASE WHEN len(s) = 0 THEN 0 ELSE list_min(s) END AS INT) AS min_s,
           CAST(CASE WHEN len(s) = 0 THEN 0 ELSE list_max(s) END AS INT) AS max_s,
           CASE WHEN len(s) = 0 THEN 0.0
                ELSE ROUND(sqrt(CAST(list_sum(
                       list_transform(s, x -> CAST(x AS HUGEINT) * x))
                     AS DOUBLE) / len(s)), 6)
           END AS rms_s
    FROM sm ORDER BY media_id
    """,
)


_RS = 8  # resize target (8x8 thumbnails)


def multimodal_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize, end-to-end oracle-checked: build the same
    grayscale PNG fixture as multimodal_png_decode, decode it, then
    nearest-neighbor-resize the DECODED pixels to 8×8 (integer index
    map (dst*src)//8 per axis). The emitted thumbnail statistics and a
    position-weighted checksum are reproduced analytically by DuckDB
    from the text bytes — a resize index-map bug shifts the checksum."""
    d = (
        _docs_flat(spark, sf_dir)
        .filter(F.col("doc_id") % 3 == 0)
        .select("doc_id", "text")
    )

    def op(batches):
        import pandas as pd

        for pdf in batches:
            ids, means, cks = [], [], []
            for did, txt in zip(pdf["doc_id"], pdf["text"]):
                data = (txt or "").encode("utf-8")
                h = max(-(-len(data) // _PNG_W), 1)
                padded = data + bytes(_PNG_W * h - len(data))
                png = multimodal.encode_gray_png(padded, _PNG_W)
                decoded = multimodal.decode_png(png)
                thumb = multimodal.resize_nearest_gray(
                    decoded["pixels"], decoded["width"], _RS, _RS
                )
                ids.append(did)
                means.append(
                    multimodal._round6(sum(thumb) / (_RS * _RS))
                )
                cks.append(sum(v * (i + 1) for i, v in enumerate(thumb)))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "out_w": pd.Series([_RS] * len(ids), dtype="int32"),
                    "out_h": pd.Series([_RS] * len(ids), dtype="int32"),
                    "mean_px": pd.Series(means, dtype="float64"),
                    "checksum": pd.Series(cks, dtype="int64"),
                }
            )

    return d.mapInPandas(
        op,
        "media_id long, out_w int, out_h int, mean_px double, checksum long",
    )


register(
    "multimodal_image_resize",
    multimodal_image_resize,
    f"""
    WITH img AS (
      SELECT doc_id AS media_id, CAST(text AS BLOB) AS b
      FROM documents WHERE doc_id % 3 = 0
    ), dims AS (
      SELECT media_id, b, octet_length(b) AS n,
             GREATEST(CAST(ceil(octet_length(b) / {_PNG_W}.0) AS BIGINT), 1) AS h
      FROM img
    ), thumb AS (
      SELECT media_id,
             list_transform(range(0, {_RS * _RS}), k ->
               CASE WHEN ((k // {_RS}) * h // {_RS}) * {_PNG_W}
                         + ((k % {_RS}) * {_PNG_W} // {_RS}) < n
                    THEN CAST(concat('0x', substr(hex(b),
                         2 * (((k // {_RS}) * h // {_RS}) * {_PNG_W}
                              + ((k % {_RS}) * {_PNG_W} // {_RS})) + 1, 2)) AS INT)
                    ELSE 0 END) AS t
      FROM dims
    )
    SELECT media_id, {_RS} AS out_w, {_RS} AS out_h,
           ROUND(CAST(list_sum(t) AS DOUBLE) / {_RS * _RS}, 6) AS mean_px,
           CAST(list_sum(list_transform(range(1, {_RS * _RS} + 1),
                i -> CAST(t[i] AS BIGINT) * i)) AS BIGINT) AS checksum
    FROM thumb ORDER BY media_id
    """,
)


_DECIM = 4  # audio decimation factor (16 kHz -> 4 kHz)


def multimodal_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio resample (decimation), end-to-end oracle-checked:
    the WAV fixture of multimodal_wav_decode is decoded and decimated
    by 4 (every 4th sample, rate 16 kHz → 4 kHz); DuckDB reproduces
    the kept-sample statistics straight from the code points."""
    d = (
        _docs_flat(spark, sf_dir)
        .filter(F.col("doc_id") % 3 == 1)
        .select("doc_id", "text")
    )

    def op(batches):
        import pandas as pd

        for pdf in batches:
            ids, rates, ns, means = [], [], [], []
            for did, txt in zip(pdf["doc_id"], pdf["text"]):
                samples = [(ord(c) % 256 - 128) * 128 for c in (txt or "")]
                wav = multimodal.encode_wav_pcm16(samples, 16000)
                decoded = multimodal.decode_wav(wav)
                kept = multimodal.decimate_pcm(decoded["samples"], _DECIM)
                ids.append(did)
                rates.append(16000 // _DECIM)
                ns.append(len(kept))
                means.append(
                    multimodal._round6(sum(kept) / len(kept)) if kept else 0.0
                )
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "out_rate": pd.Series(rates, dtype="int32"),
                    "n_kept": pd.Series(ns, dtype="int64"),
                    "mean_s": pd.Series(means, dtype="float64"),
                }
            )

    return d.mapInPandas(
        op, "media_id long, out_rate int, n_kept long, mean_s double"
    )


register(
    "multimodal_audio_resample",
    multimodal_audio_resample,
    f"""
    WITH aud AS (
      SELECT doc_id AS media_id, text
      FROM documents WHERE doc_id % 3 = 1
    ), sm AS (
      SELECT media_id,
             CASE WHEN length(text) = 0 THEN CAST([] AS INT[])
                  ELSE list_transform(string_split(text, ''),
                       c -> (unicode(c) % 256 - 128) * 128)
             END AS s
      FROM aud
    ), kept AS (
      SELECT media_id,
             list_transform(range(0, CAST(ceil(len(s) / {_DECIM}.0) AS BIGINT)),
                            i -> s[i * {_DECIM} + 1]) AS k
      FROM sm
    )
    SELECT media_id, {16000 // _DECIM} AS out_rate,
           CAST(len(k) AS BIGINT) AS n_kept,
           CASE WHEN len(k) = 0 THEN 0.0
                ELSE ROUND(CAST(list_sum(k) AS DOUBLE) / len(k), 6)
           END AS mean_s
    FROM kept ORDER BY media_id
    """,
)


# ------------------------------------------------- corpus curation (pipeline)
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data curation pass, as ONE declarative
    plan: duplicate-injected corpus → exact dedup (md5 content hash,
    min-id survivor) → quality gates (token floor, chars-per-token
    band, language allowlist on the labeled column) → deterministic
    train/val split (content-independent md5 of the doc id — stable
    under re-runs and re-partitioning, no RNG) → per (lang, split)
    corpus accounting. Every stage is a column expression or one
    shuffle; the oracle replays the whole pipeline in SQL.

    At 100 TB this is the shape that matters: dedup is one shuffle on
    a 16-byte hash, the gates are free scan-side filters BELOW it
    (Catalyst pushes them under the dedup aggregate's shuffle), and
    the split adds zero shuffles."""
    d = fan_out(load_table(spark, sf_dir, "documents"))

    # ONE corpus pass for everything text-derived (r7, found by the
    # 1000× re-pin): features, gates AND the content hash are all
    # COPY-INVARIANT (an injected duplicate carries identical text),
    # so they are computed on the 5M base docs and the duplicate
    # injection happens AFTER, by exploding the (id, id+2e9) pair —
    # the pre-r7 unionByName duplicated the whole featurized subtree
    # in the plan (no exchange to reuse), so the BPE regex — 38 of
    # this query's 113 s at the 1000× fixture — and the token HOFs
    # ran TWICE, and md5 ran on both branches; this shape runs them
    # once and the union carries no text at all (112.6 → ~55 s at
    # 1000×). explode(array(struct)) is the Generate barrier that
    # keeps the gate filters from being rewritten in terms of the
    # HOFs and pushed below the fan_out into the serial scan stage
    # (see llm_data_pipeline_v2).
    from otrrentetl_spark.operators.text import normalize_text

    # Count features via the byte kernel (bit-identical twins of
    # token_count / bpe_token_count, randomized parity pinned in
    # tests/test_textkernel_fuzz.py): regexp_count's NFA walk plus
    # split()'s array materialization were 45 of this query's ~59 s
    # at the 1000× fixture; the kernel is a handful of whole-buffer
    # mask/cumsum passes near the mapInArrow transport bound. text
    # rides through the Arrow batch untouched so the md5/normalize
    # content hash stays a JVM expression on the other side.
    def _counts(it):
        import pyarrow as pa
        import pyarrow.compute as pc

        from otrrentetl_spark.operators import textkernel as tk

        for batch in it:
            raw = pc.fill_null(batch.column("text"), "")
            buf_r, off_r = tk.flatten_utf8(raw)
            n_bpe = tk.bpe_counts(buf_r, off_r)
            buf_t, off_t = tk.flatten_utf8(pc.utf8_trim(raw, " "))
            n_tok = tk.token_counts(buf_t, off_t)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id"),
                    batch.column("lang"),
                    batch.column("text"),
                    pa.array(n_tok, pa.int64()),
                    pa.array(n_bpe, pa.int64()),
                ],
                names=["doc_id", "lang", "text", "n_tok", "n_bpe"],
            )

    counted = d.select("doc_id", "lang", "text").mapInArrow(
        _counts,
        "doc_id long, lang string, text string, n_tok long, n_bpe long",
    )
    feat = counted.select(
        "doc_id",
        "lang",
        "n_tok",
        F.when(
            F.col("n_bpe") > 0,
            F.length("text").cast("double") / F.col("n_bpe"),
        )
        .otherwise(0.0)
        .alias("cpt"),
        F.md5(normalize_text("text")).alias("__h"),
    )
    # gate BEFORE injection (per-row deterministic on text+lang ⇒ a
    # copy passes iff its original does — same survivors as gating
    # the union, which is what the oracle replays)
    gated = feat.filter(
        (F.col("n_tok") >= 20)
        & F.col("cpt").between(2.0, 20.0)
        & F.col("lang").isin("en", "de", "fr")
    )
    both = gated.select(
        F.explode(
            F.array(F.col("doc_id"), F.col("doc_id") + 2_000_000_000)
        ).alias("doc_id"),
        "lang",
        "n_tok",
        "__h",
    )
    # Dedup folded into ONE aggregate: survivor id via min, survivor
    # attributes via min_by — no semi-join back to the corpus
    # (exact_dedup's join shape is right when the caller needs the full
    # surviving ROW; here only (lang, n_tok) ride along).
    deduped = (
        both.groupBy("__h")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min_by(F.struct("lang", "n_tok"), "doc_id").alias("__a"),
        )
        .select("doc_id", F.col("__a.lang").alias("lang"), F.col("__a.n_tok").alias("n_tok"))
    )
    split = F.when(
        F.pmod(
            F.conv(
                F.substring(F.md5(F.concat(F.lit("split:"), F.col("doc_id"))), 1, 15),
                16,
                10,
            ).cast("long"),
            F.lit(10),
        )
        < 8,
        F.lit("train"),
    ).otherwise(F.lit("val"))
    return (
        deduped.withColumn("split", split)
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("sum_tok"),
            F.round(F.avg("n_tok"), 4).alias("avg_tok"),
        )
        
    )


register(
    "corpus_curation_pipeline",
    corpus_curation_pipeline,
    r"""
    WITH unioned AS (
      SELECT doc_id, lang, text FROM documents
      UNION ALL
      SELECT doc_id + 2000000000 AS doc_id, lang, text FROM documents
    ), feat AS (
      SELECT doc_id, lang, text,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tok,
             CASE WHEN len(regexp_extract_all(text,
                       '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) > 0
                  THEN CAST(length(text) AS DOUBLE)
                       / len(regexp_extract_all(text,
                             '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]'))
                  ELSE 0.0 END AS cpt
      FROM unioned
    ), gated AS (
      SELECT * FROM feat
      WHERE n_tok >= 20 AND cpt BETWEEN 2.0 AND 20.0
        AND lang IN ('en', 'de', 'fr')
    ), keep AS (
      SELECT min(doc_id) AS doc_id
      FROM gated
      GROUP BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
    ), survivors AS (
      SELECT g.* FROM gated g JOIN keep k ON g.doc_id = k.doc_id
    )
    SELECT lang,
           CASE WHEN CAST(concat('0x',
                  substr(md5(concat('split:', CAST(doc_id AS VARCHAR))), 1, 15))
                AS BIGINT) % 10 < 8
                THEN 'train' ELSE 'val' END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS sum_tok,
           ROUND(AVG(n_tok), 4) AS avg_tok
    FROM survivors
    GROUP BY 1, 2 ORDER BY lang, split
    """,
)


def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (class prototypes — the reduction
    behind k-means steps, prototype classifiers, and cluster-balanced
    sampling): posexplode → (label,pos) partial-agg'd avg →
    reassembled array + L2 norm."""
    cent = similarity.label_centroids(_emb(spark, sf_dir))
    # Arrays are not hashable by the driver's pandas-side comparison —
    # emit the centroid as a canonical decimal-formatted string.
    return cent.select(
        "label",
        "n_vectors",
        F.array_join(
            F.transform(
                "centroid", lambda x: x.cast("decimal(20,6)").cast("string")
            ),
            ",",
        ).alias("centroid"),
        "centroid_norm",
    )


register(
    "embedding_label_centroids",
    embedding_label_centroids,
    """
    WITH pos AS (
      SELECT label, vec_id, i AS pos, CAST(embedding[i] AS DOUBLE) AS v
      FROM embeddings CROSS JOIN range(1, 65) t(i)
    ), per_pos AS (
      SELECT label, pos, AVG(v) AS c, COUNT(DISTINCT vec_id) AS n
      FROM pos GROUP BY label, pos
    ), asm AS (
      SELECT label, MAX(n) AS n_vectors,
             list_transform(list_sort(list({'p': pos, 'c': c})), s -> ROUND(s.c, 6))
               AS centroid
      FROM per_pos GROUP BY label
    )
    SELECT label, n_vectors,
           array_to_string(list_transform(centroid,
             x -> CAST(CAST(x AS DECIMAL(20,6)) AS VARCHAR)), ',') AS centroid,
           ROUND(sqrt(list_aggregate(
             list_transform(centroid, x -> x * x), 'sum')), 6) AS centroid_norm
    FROM asm ORDER BY label
    """,
)


# ---------------------------------------- MinHash LSH, oracle-exact variant
_LSHX_HASHES = dedup.LSH_EXACT_PARAMS["num_hashes"]
_LSHX_BANDS = dedup.LSH_EXACT_PARAMS["bands"]
_LSHX_N = dedup.LSH_EXACT_PARAMS["shingle_n"]


def dedup_minhash_lsh_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 on the HOF md5 expression path (fast=False) over a smaller
    domain — kept as the expression-path twin of the Arrow-kernel
    pipeline (both now hash-match the same DuckDB replay)."""
    both = near_dup_corpus(
        spark,
        sf_dir,
        corpus_max=dedup.LSH_EXACT_PARAMS["corpus_max"],
        near_max=dedup.LSH_EXACT_PARAMS["near_max"],
    )
    return dedup.minhash_lsh_pairs(
        both,
        num_hashes=_LSHX_HASHES,
        bands=_LSHX_BANDS,
        shingle_n=_LSHX_N,
        jaccard_threshold=0.5,
        fast=False,
    )


_SPAN_K = 16


def dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-level dedup (the C4-style repeated-passage removal):
    fixed 16-token spans, keep-first corpus-wide, per-doc survival
    stats + md5 of the reassembled text. Runs over the near-dup
    fixture corpus so injected ~90% copies lose most spans to their
    originals."""
    both = near_dup_corpus(spark, sf_dir, near_max=100)
    return dedup.span_dedup(both, span_tokens=_SPAN_K)


def _span_dedup_sql() -> str:
    k = _SPAN_K
    return f"""
    WITH {dedup.near_dup_corpus_ctes(corpus_max=None, near_max=100).strip()},
    spans AS (
      SELECT doc_id,
             UNNEST([{{'i': CAST((s - 1) // {k} AS BIGINT),
                       'sp': array_to_string(toks[s:s + {k} - 1], ' ')}}
                     for s in range(1, GREATEST(len(toks), 1) + 1, {k})]) AS u
      FROM base
    ), sp AS (
      SELECT doc_id, u.i AS span_idx, u.sp AS span FROM spans
    ), win AS (
      SELECT span, MIN(doc_id * 1000000 + span_idx) AS wkey
      FROM sp GROUP BY span
    ), marked AS (
      SELECT sp.doc_id, sp.span_idx, sp.span,
             (sp.doc_id * 1000000 + sp.span_idx) = w.wkey AS keep
      FROM sp JOIN win w ON sp.span = w.span
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           ROUND(SUM(CASE WHEN keep THEN 1.0 ELSE 0.0 END) / COUNT(*), 6)
             AS kept_ratio,
           md5(COALESCE(string_agg(span, ' ' ORDER BY span_idx)
                        FILTER (WHERE keep), '')) AS dedup_text_md5
    FROM marked GROUP BY doc_id ORDER BY doc_id
    """


register("dedup_spans", dedup_spans, _span_dedup_sql())


# 16 tokens of site chrome — the boilerplate fixture banner
_BANNER = (
    "site navigation home about contact terms privacy cookie policy"
    " subscribe newsletter follow us on social media"
)


def text_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-span removal over a corpus where every 5th document
    carries a shared 16-token banner: the banner span crosses the
    document-frequency threshold (20% ≫ 5%) and is stripped from all
    carriers; organic spans (df=1) survive."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    with_banner = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0, F.concat(F.lit(_BANNER + " "), F.col("text"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return dedup.boilerplate_span_removal(
        with_banner, span_tokens=_SPAN_K, max_doc_frac=0.05
    )


def _boilerplate_sql() -> str:
    k = _SPAN_K
    return f"""
    WITH src AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN '{_BANNER} ' || text
                  ELSE text END AS text
      FROM documents
    ), base AS (
      SELECT doc_id,
             CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks
      FROM src
    ), spans AS (
      SELECT doc_id,
             UNNEST([{{'i': CAST((s - 1) // {k} AS BIGINT),
                       'sp': array_to_string(toks[s:s + {k} - 1], ' ')}}
                     for s in range(1, GREATEST(len(toks), 1) + 1, {k})]) AS u
      FROM base
    ), sp AS (
      SELECT doc_id, u.i AS span_idx, u.sp AS span FROM spans
    ), sdf AS (
      SELECT span, COUNT(DISTINCT doc_id) AS sdf FROM sp GROUP BY span
    ), nd AS (SELECT COUNT(*) AS n FROM src),
    marked AS (
      SELECT sp.doc_id, sp.span_idx, sp.span,
             s.sdf > nd.n * 0.05 AS boiler
      FROM sp JOIN sdf s ON sp.span = s.span CROSS JOIN nd
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
           md5(COALESCE(string_agg(span, ' ' ORDER BY span_idx)
                        FILTER (WHERE NOT boiler), '')) AS clean_text_md5
    FROM marked GROUP BY doc_id ORDER BY doc_id
    """


register("text_boilerplate_removal", text_boilerplate_removal, _boilerplate_sql())


def dedup_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection: near-dup clusters (fast LSH pairs
    → connected components) keep ONE representative each — the
    highest-quality member, doc_id as tiebreak. The standard final
    step of a near-dup pass: drop the copies, keep the best copy."""
    from pyspark.sql import Window

    from otrrentetl_spark.operators.graph import connected_components

    both = near_dup_corpus(spark, sf_dir, near_max=100)
    # star candidates: CC consumer on the full corpus (see
    # minhash_lsh_pairs' candidate_strategy scale note)
    pairs = dedup.minhash_lsh_pairs(
        both,
        jaccard_threshold=0.5,
        candidate_strategy="star",
        verify="estimate",
    )
    comp = connected_components(pairs, src="id_a", dst="id_b")
    scored = comp.join(
        both.select(
            F.col("doc_id").alias("id"), text.quality_score("text").alias("quality")
        ),
        "id",
    )
    w = Window.partitionBy("component").orderBy(
        F.col("quality").desc(), F.col("id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .withColumn(
            "n_members", F.count(F.lit(1)).over(Window.partitionBy("component"))
        )
        .filter(F.col("rk") == 1)
        .select(
            "component",
            F.col("id").alias("rep_doc_id"),
            F.col("quality").alias("rep_quality"),
            F.col("n_members").cast("long").alias("n_members"),
        )
    )


def quality_bin_budgets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-binned token budgeting — the accounting behind
    quality-curriculum data mixes: assign every doc to a FIXED quality
    bin (floor(quality·10), clamped to 9) and report per-bin document
    count, token mass, and token share of the corpus.

    Fixed thresholds, not deciles, deliberately: a decile (ntile)
    needs a global rank — a single-partition window at 100 TB —
    while fixed bins are a scan-side expression plus one partial-agg
    shuffle, and are what production pre-filters actually key on.
    The corpus-total share divisor rides in as a 1-row broadcast."""
    d = _docs(spark, sf_dir)
    scored = d.select(
        "doc_id",
        text.quality_score("text").alias("q"),
        text.token_count("text").alias("n_tok"),
    ).withColumn(
        "bin", F.least(F.floor(F.col("q") * 10), F.lit(9)).cast("int")
    )
    per_bin = scored.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("sum_tok"),
    )
    total = per_bin.agg(F.sum("sum_tok").alias("tot"))
    return (
        per_bin.crossJoin(F.broadcast(total))
        .select(
            "bin",
            "n_docs",
            "sum_tok",
            F.round(F.col("sum_tok").cast("double") / F.col("tot"), 6).alias(
                "tok_share"
            ),
        )
    )


def _quality_bins_sql() -> str:
    quality = _QUALITY_SQL
    return f"""
    WITH base AS (
      SELECT doc_id, text,
             CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks
      FROM documents
    ), scored AS (
      SELECT doc_id, len(toks) AS n_tok,
             CAST(LEAST(FLOOR({quality} * 10), 9) AS INT) AS bin
      FROM base
    ), per_bin AS (
      SELECT bin, COUNT(*) AS n_docs, SUM(n_tok) AS sum_tok
      FROM scored GROUP BY bin
    ), tot AS (SELECT SUM(sum_tok) AS tot FROM per_bin)
    SELECT bin, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(sum_tok AS BIGINT) AS sum_tok,
           ROUND(CAST(sum_tok AS DOUBLE) / tot, 6) AS tok_share
    FROM per_bin CROSS JOIN tot ORDER BY bin
    """


register("quality_bin_budgets", quality_bin_budgets, _quality_bins_sql())


# deterministic 64-dim probe weights — a stand-in for trained
# classifier weights shipped to the cluster as plan literals
_PROBE_W = [((i * 37) % 19 - 9) / 10.0 for i in range(64)]
_PROBE_B = 0.05


def embedding_linear_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-classifier inference over the embedding column — the
    model-based quality-filter plumbing (fastText-style score → gate)
    every curation pipeline runs after the rule gates: logit =
    w·v + b with the weight vector a broadcast plan literal, then a
    per-label calibration summary (count, positive rate, mean logit).

    Scale shape: inference is a narrow zip_with/aggregate projection —
    JVM codegen, zero Python, zero shuffles — followed by one
    partial-agg shuffle of |labels| rows. The mean logit accumulates
    the 6-dp-rounded per-row logits in DECIMAL so the per-label mean
    is accumulation-order-independent (the repo's float-agg rule)."""
    from otrrentetl_spark.plans.web_curation import round6_portable

    emb = _emb(spark, sf_dir)
    w = F.array(*[F.lit(x) for x in _PROBE_W])
    # portable half-away rounding (FLOOR of the scaled double, not
    # F.round): a logit at an exact decimal half would otherwise round
    # differently in Spark vs DuckDB and flip the n_pos integer
    logit6 = round6_portable(
        F.aggregate(
            F.zip_with(
                F.col("embedding"), w, lambda x, y: x.cast("double") * y
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        + F.lit(_PROBE_B)
    )
    scored = emb.select(
        "label",
        logit6.alias("logit"),
        (logit6 > 0).cast("int").alias("pos"),
    )
    return (
        scored.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("pos").alias("n_pos"),
            round6_portable(
                F.sum(F.col("logit").cast("decimal(30,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_logit"),
        )
        .orderBy("label")
    )


def _probe_sql() -> str:
    w = "[" + ", ".join(repr(x) for x in _PROBE_W) + "]"
    raw = f"list_dot_product(CAST(embedding AS DOUBLE[]), {w}) + {_PROBE_B!r}"
    mean = "CAST(SUM(CAST(logit AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*)"
    return f"""
    WITH scored AS (
      SELECT label,
             SIGN({raw}) * FLOOR(ABS({raw}) * 1e6 + 0.5) / 1e6 AS logit
      FROM embeddings
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CASE WHEN logit > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pos,
           SIGN({mean}) * FLOOR(ABS({mean}) * 1e6 + 0.5) / 1e6 AS mean_logit
    FROM scored GROUP BY label ORDER BY label
    """


register("embedding_linear_probe", embedding_linear_probe, _probe_sql())


def embedding_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 symmetric quantization audit for the embedding column —
    the storage/serving compression step of a vector pipeline: per
    vector, scale = max|x|/127, q_i = round(x_i/scale) ∈ [-127,127].
    Emits the scale and exact integer summaries of the quantized code
    (nnz, Σ|q|, max|q|) — integer outputs avoid float-sum ordering
    questions entirely; one narrow projection, zero shuffles.

    All built-in HOFs (aggregate/transform/filter) — no UDF."""
    emb = _emb(spark, sf_dir)
    amax = F.aggregate(
        "embedding",
        F.lit(0.0),
        lambda a, x: F.greatest(a, F.abs(x.cast("double"))),
    )
    e = emb.select(
        "vec_id", F.col("embedding").alias("v"), (amax / 127).alias("scale")
    )
    q = F.transform(
        "v",
        lambda x: F.when(
            F.col("scale") > 0, F.round(x.cast("double") / F.col("scale"))
        )
        .otherwise(F.lit(0.0))
        .cast("int"),
    )
    return e.select(
        "vec_id",
        F.round("scale", 6).alias("scale6"),
        F.size(F.filter(q, lambda c: c != 0)).alias("nnz"),
        F.aggregate(
            q, F.lit(0).cast("long"), lambda a, c: a + F.abs(c)
        ).alias("sum_abs_q"),
        F.aggregate(
            q, F.lit(0), lambda a, c: F.greatest(a, F.abs(c))
        ).alias("max_abs_q"),
    )


register(
    "embedding_int8_quantization",
    embedding_int8_quantization,
    """
    WITH e AS (
      SELECT vec_id, embedding AS v,
             list_max(list_transform(embedding,
                      x -> abs(CAST(x AS DOUBLE)))) / 127 AS scale
      FROM embeddings
    ), qq AS (
      SELECT vec_id, scale,
             list_transform(v, x -> CAST(
               CASE WHEN scale > 0 THEN ROUND(CAST(x AS DOUBLE) / scale)
                    ELSE 0.0 END AS INT)) AS q
      FROM e
    )
    SELECT vec_id,
           ROUND(scale, 6) AS scale6,
           CAST(len(list_filter(q, c -> c <> 0)) AS INT) AS nnz,
           CAST(list_sum(list_transform(q, c -> abs(c))) AS BIGINT) AS sum_abs_q,
           CAST(list_max(list_transform(q, c -> abs(c))) AS INT) AS max_abs_q
    FROM qq ORDER BY vec_id
    """,
)


def _cluster_reps_sql() -> str:
    quality = _QUALITY_SQL
    return (
        "WITH RECURSIVE "
        + dedup.lsh_oracle_ctes(
            **dedup.LSH_FAST_PARAMS,
            candidate_strategy="star",
            verify="estimate",
        ).strip()
        + f""",
    und AS (
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    verts AS (SELECT DISTINCT s AS id FROM und),
    reach(id, lbl) AS (
      SELECT id, id FROM verts
      UNION
      SELECT u.s, r.lbl FROM und u JOIN reach r ON r.id = u.d
    ),
    comp AS (SELECT id, MIN(lbl) AS component FROM reach GROUP BY id),
    q AS (
      SELECT u.doc_id, {quality} AS quality
      FROM unioned u JOIN base b ON u.doc_id = b.doc_id
    ),
    ranked AS (
      SELECT c.component, c.id, q.quality,
             ROW_NUMBER() OVER (PARTITION BY c.component
                                ORDER BY q.quality DESC, c.id ASC) AS rk,
             COUNT(*) OVER (PARTITION BY c.component) AS n_members
      FROM comp c JOIN q ON q.doc_id = c.id
    )
    SELECT component, id AS rep_doc_id, quality AS rep_quality,
           CAST(n_members AS BIGINT) AS n_members
    FROM ranked WHERE rk = 1
    """
    )


register(
    "dedup_cluster_representatives",
    dedup_cluster_representatives,
    _cluster_reps_sql(),
)


def text_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide most-frequent word bigrams (top 50): the vocabulary
    statistics report every corpus build starts with. One narrow
    bigram projection, one partial-agg count shuffle, one top-k
    reduction (TakeOrdered — no global sort materialization)."""
    d = _docs(spark, sf_dir)
    grams = d.select(
        F.explode(
            bind(
                text.tokens("text"),
                lambda tk: F.when(F.size(tk) >= 2, F.transform(
                    F.sequence(F.lit(1), F.size(tk) - 1),
                    lambda i: F.concat_ws(" ", F.slice(tk, i, 2)),
                )).otherwise(F.array().cast("array<string>")),
            )
        ).alias("gram")
    )
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("gram"))
        .limit(50)
    )


register(
    "text_ngram_topk",
    text_ngram_topk,
    r"""
    WITH base AS (
      SELECT CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
      FROM documents
    ), grams AS (
      SELECT UNNEST(CASE WHEN len(toks) >= 2
                    THEN [array_to_string(toks[i:i+1], ' ')
                          for i in range(1, len(toks))]
                    ELSE [] END) AS gram
      FROM base
    )
    SELECT gram, CAST(COUNT(*) AS BIGINT) AS n
    FROM grams GROUP BY gram
    ORDER BY n DESC, gram LIMIT 50
    """,
)


# Kernel-vs-expression dispatch bound for the surprisal probes: the
# vectorized probe ships the (term, q9) model to every worker — the
# same data volume a broadcast-hash join would build — so it applies
# under the same condition, and past it the expression face (whose
# broadcast join AQE demotes to a shuffle join) carries the query.
_PROBE_MODEL_CAP = 4_000_000


def _unigram_model(spark: SparkSession, sf_dir: str):
    """(toks, tf) building blocks shared by both faces."""
    d = _docs_flat(spark, sf_dir)
    toks = d.select(
        "doc_id", F.explode(text.tokens("text")).alias("term")
    ).filter(F.col("term") != "")
    tf = toks.groupBy("term").agg(F.count(F.lit(1)).alias("tf"))
    return d, toks, tf


def _unigram_q9() -> Column:
    # built lazily: module import must not require an active session
    return F.round(F.lit(1e9) / F.col("tf")).cast("long")


def _unigram_finish(per_doc: DataFrame, n_corpus_col) -> Column:
    return F.round(
        n_corpus_col.cast("double")
        * (F.col("s9").cast("double") / F.lit(1e9))
        / F.col("n_tok"),
        6,
    ).alias("surprisal_proxy")


def text_unigram_surprisal_expr(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Expression face of the unigram fluency proxy (the KenLM-style
    LM filter stand-in): score = mean inverse relative frequency
    avg(N/tf(term)) — exact IEEE division+sum, monotone with true
    unigram surprisal (no log, so no libm portability hazard).

    This face is the ORACLE twin of `text_unigram_surprisal` and its
    unconditional-scale path: term counts partial-aggregate map-side
    (shuffle volume ≈ vocabulary); q9 and the corpus total N are
    computed ON THE MODEL SIDE (vocabulary-sized — r6: the old plan
    evaluated round(1e9/tf) per probe token, 275M times at the 1000×
    fixture, and derived N in a separate consumer of the tf exchange),
    so the probe join carries precomputed (q9, n_corpus) columns and
    the per-doc aggregate reads them with sum/first; the broadcast
    join AQE-demotes to a shuffle join past the threshold.

    Determinism: avg() over doubles is accumulation-order-dependent,
    so the mean accumulates in fixed-point — per token the INVERSE
    frequency 1/tf is scaled by 1e9 and rounded to a long (bounded by
    1e9·doc_len, independent of corpus size), summed exactly, and N
    folds in by one deterministic double chain after the aggregate.
    Mirrored op-for-op in the oracle (DuckDB sums to HUGEINT)."""
    _, toks, tf = _unigram_model(spark, sf_dir)
    ntok = tf.agg(F.sum("tf").alias("n_corpus"))
    tfq = tf.select("term", _unigram_q9().alias("q9")).crossJoin(
        F.broadcast(ntok)
    )
    per_doc = (
        toks.join(F.broadcast(tfq), "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.sum("q9").alias("s9"),
            F.first("n_corpus").alias("n_corpus"),
        )
    )
    return per_doc.select(
        "doc_id", "n_tok", _unigram_finish(per_doc, F.col("n_corpus"))
    )


def text_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram fluency proxy — kernel face. Same values as
    `text_unigram_surprisal_expr` (the oracle twin, see its docstring
    for the scoring semantics), computed by the vectorized probe in
    operators/textkernel.py: the (term, q9) model is built by the
    SAME Spark aggregate as the expression face (all rounding stays
    engine-side), collected when the vocabulary is under
    _PROBE_MODEL_CAP (one job — limit(cap+1) is both the driver
    bound and the cap probe), shipped once per worker as a broadcast, and
    the probe pass then tokenizes each document ONCE with byte-level
    numpy masks and reduces per doc via Arrow's C hash table + exact
    int64 cumsums. r6 measurement at the 5M-doc 1000× sink: 43.5 s →
    12.0 s vs DuckDB 10.3 s = 1.17× (the old plan paid two
    interpreted tokenize passes plus 275M per-row q9 evaluations
    through the probe join). Past the cap — vocabularies too big to broadcast,
    where the join must shuffle anyway — the expression face runs
    unchanged, so the scale posture is exactly the broadcast-join
    condition, decided by an exact vocabulary count."""
    d, toks, tf = _unigram_model(spark, sf_dir)
    # ONE job for the model: limit(cap+1) bounds the driver collect
    # by construction and doubles as the cap probe (cap+1 rows back
    # ⇒ vocabulary over the cap ⇒ expression face) — a separate
    # count-then-collect pays the corpus tokenize twice.
    # Arrow transport (r6 verdict item 5): toArrow() ships the model
    # as columnar batches instead of up to 4M py4j Row objects —
    # several-fold less driver time and memory at the cap.
    import numpy as np

    tbl = (
        tf.select("term", "tf", _unigram_q9().alias("q9"))
        .limit(_PROBE_MODEL_CAP + 1)
        .toArrow()
    )
    if tbl.num_rows > _PROBE_MODEL_CAP:
        return text_unigram_surprisal_expr(spark, sf_dir)
    # exact integer total — same value as the Spark sum(tf) chain
    # (integer addition is associative, any order gives the same sum)
    n_corpus = int(
        tbl.column("tf").to_numpy(zero_copy_only=False).sum()
    )
    terms = tbl.column("term").to_pylist()
    q9s = (
        tbl.column("q9")
        .to_numpy(zero_copy_only=False)
        .astype(np.int64, copy=False)
    )
    bc = spark.sparkContext.broadcast((terms, q9s))

    def probe(it):
        import pyarrow as pa
        import pyarrow.compute as pc

        import numpy as np

        from otrrentetl_spark.operators import textkernel as tk

        vocab, q9l = bc.value
        vocab_arr = pa.array(vocab, pa.string())
        weights = np.asarray(q9l, dtype=np.int64)
        for batch in it:
            trimmed = pc.utf8_trim(pc.fill_null(batch.column("text"), ""), " ")
            n_tok, s9 = tk.doc_token_sums(trimmed, vocab_arr, weights)
            keep = n_tok > 0
            yield pa.RecordBatch.from_arrays(
                [
                    pc.filter(batch.column("doc_id"), pa.array(keep)),
                    pa.array(n_tok[keep], pa.int64()),
                    pa.array(s9[keep], pa.int64()),
                ],
                names=["doc_id", "n_tok", "s9"],
            )

    per_doc = d.select("doc_id", "text").mapInArrow(
        probe, "doc_id long, n_tok long, s9 long"
    )
    return per_doc.select(
        "doc_id", "n_tok", _unigram_finish(per_doc, F.lit(n_corpus))
    )


register(
    "text_unigram_surprisal",
    text_unigram_surprisal,
    r"""
    WITH toks AS (
      SELECT doc_id, UNNEST(regexp_split_to_array(trim(text), '\s+')) AS term
      FROM documents WHERE length(trim(text)) > 0
    ), t2 AS (SELECT * FROM toks WHERE term <> ''),
    tf AS (SELECT term, COUNT(*) AS tf FROM t2 GROUP BY term),
    nt AS (SELECT SUM(tf) AS n_corpus FROM tf),
    per_doc AS (
      SELECT doc_id,
             COUNT(*) AS n_tok,
             SUM(CAST(ROUND(1e9 / tf) AS BIGINT)) AS s9
      FROM t2 JOIN tf USING (term)
      GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(n_tok AS BIGINT) AS n_tok,
           ROUND(CAST(n_corpus AS DOUBLE)
                 * (CAST(s9 AS DOUBLE) / 1e9) / n_tok, 6) AS surprisal_proxy
    FROM per_doc CROSS JOIN nt
    ORDER BY doc_id
    """,
)
# the expression twin carries the SAME oracle (§2.11: every kernel
# has a bit-identical expression face, both registry-gated)
from otrrentetl_spark.registry import ORACLES as _OR  # noqa: E402

register(
    "text_unigram_surprisal_expr",
    text_unigram_surprisal_expr,
    _OR["text_unigram_surprisal"],
)


_SEQ_LEN = 256  # training-sequence token budget
_PACK_SHARDS = 64  # parallel packer writers per source


def pack_training_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing accounting (the concat-and-chop step that
    turns a curated corpus into fixed-length training sequences):
    documents are concatenated per source in doc_id order and chopped
    into 256-token windows; each doc belongs to the sequence its
    first token lands in. Output per (source, seq_id): docs starting
    there, their token mass, and how many docs straddle the window
    boundary (the quantity packing efficiency tuning watches).

    Scale shape: the window cumsum is partitioned by (source, shard)
    where shard = doc_id mod 64 — source cardinality alone can be
    tiny (tens), which would serialize the prefix sums into a handful
    of chains at 100 TB; sharding is exactly what parallel packer
    writers do, and each shard's packing stays deterministic and
    SQL-replayable. Then one partial-agg shuffle. The byte-level
    concat happens at write time; this plan is its exact accounting."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    sized = d.select(
        "doc_id",
        "source",
        F.pmod(F.col("doc_id"), F.lit(_PACK_SHARDS)).alias("shard"),
        text.token_count("text").alias("n_tok"),
    )
    w = Window.partitionBy("source", "shard").orderBy("doc_id")
    placed = sized.select(
        "source",
        "shard",
        "n_tok",
        (F.sum("n_tok").over(w) - F.col("n_tok")).alias("start_off"),
    ).select(
        "source",
        "shard",
        "n_tok",
        (F.col("start_off") / _SEQ_LEN).cast("long").alias("seq_id"),
        # n_tok > 0 guard: for an empty doc `start+n_tok-1` is negative,
        # where long-cast truncation (toward zero) and SQL floor-div
        # disagree — an empty doc can never cross a boundary anyway
        (
            (F.col("n_tok") > 0)
            & (
                ((F.col("start_off") + F.col("n_tok") - 1) / _SEQ_LEN).cast("long")
                > (F.col("start_off") / _SEQ_LEN).cast("long")
            )
        ).alias("crosses"),
    )
    return placed.groupBy("source", "shard", "seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        F.sum(F.col("crosses").cast("long")).alias("boundary_crossers"),
    )


register(
    "pack_training_sequences",
    pack_training_sequences,
    rf"""
    WITH sized AS (
      SELECT doc_id, source, doc_id % {_PACK_SHARDS} AS shard,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tok
      FROM documents
    ), placed AS (
      SELECT source, shard, n_tok,
             SUM(n_tok) OVER (PARTITION BY source, shard ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) - n_tok AS start_off
      FROM sized
    )
    SELECT source, CAST(shard AS BIGINT) AS shard,
           CAST(start_off // {_SEQ_LEN} AS BIGINT) AS seq_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN n_tok > 0
                          AND (start_off + n_tok - 1) // {_SEQ_LEN}
                              > start_off // {_SEQ_LEN}
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS boundary_crossers
    FROM placed GROUP BY source, shard, start_off // {_SEQ_LEN}
    ORDER BY source, shard, seq_id
    """,
)


def corpus_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source mixing (the up/down-sampling plan of a
    multi-source pretraining corpus): per-source token mass →
    τ=0.5 temperature weights w_s ∝ sqrt(tokens_s) → token targets
    under the total-corpus budget → oversampling epochs per source.

    τ=0.5 is implemented with sqrt, which IEEE-754 requires to be
    correctly rounded — unlike pow/ln it is bit-identical across
    engines, so the whole mixing plan hash-checks. The weight
    normalizer sums 6-dp-quantized weights in DECIMAL (exact,
    order-independent). Per-source aggregates are one partial-agg
    shuffle over a handful of groups."""
    d = _docs(spark, sf_dir)
    per = (
        d.select("source", text.token_count("text").alias("n_tok"))
        .groupBy("source")
        .agg(F.sum("n_tok").alias("tokens"))
        .withColumn(
            "w",
            F.round(F.sqrt(F.col("tokens").cast("double")), 6).cast(
                "decimal(20,6)"
            ),
        )
    )
    tot = per.agg(
        F.sum("w").alias("tw"), F.sum("tokens").alias("total_tokens")
    )
    weight = F.round(
        F.col("w").cast("double") / F.col("tw").cast("double"), 6
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        "tokens",
        weight.alias("weight"),
        F.floor(weight * F.col("total_tokens")).cast("long").alias("target_tokens"),
        F.round(
            F.floor(weight * F.col("total_tokens")) / F.col("tokens"), 6
        ).alias("epochs"),
    )


register(
    "corpus_mixture_weights",
    corpus_mixture_weights,
    r"""
    WITH per AS (
      SELECT source,
             SUM(CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE len(regexp_split_to_array(trim(text), '\s+')) END) AS tokens
      FROM documents GROUP BY source
    ), w AS (
      SELECT source, tokens,
             CAST(ROUND(sqrt(CAST(tokens AS DOUBLE)), 6) AS DECIMAL(20,6)) AS w
      FROM per
    ), tot AS (
      SELECT SUM(w) AS tw, SUM(tokens) AS total_tokens FROM w
    )
    SELECT source, CAST(tokens AS BIGINT) AS tokens,
           ROUND(CAST(w AS DOUBLE) / CAST(tw AS DOUBLE), 6) AS weight,
           CAST(FLOOR(ROUND(CAST(w AS DOUBLE) / CAST(tw AS DOUBLE), 6)
                      * total_tokens) AS BIGINT) AS target_tokens,
           ROUND(FLOOR(ROUND(CAST(w AS DOUBLE) / CAST(tw AS DOUBLE), 6)
                       * total_tokens) / tokens, 6) AS epochs
    FROM w CROSS JOIN tot ORDER BY source
    """,
)


def _roundtrip_dir(fmt: str, sf_dir: str) -> str:
    """Stable per-(format, corpus) scratch dir for the IO round-trip
    queries: every invocation overwrites the SAME path instead of
    mkdtemp-ing a fresh full corpus copy per build (code-review r4 —
    repeated bench/verify cycles were accumulating copies until the
    disk filled)."""
    import hashlib
    import tempfile

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    return f"{tempfile.gettempdir()}/otrrentetl_rt_{fmt}_{tag}/docs"


def jsonl_corpus_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL ingest (the de-facto LLM corpus interchange format):
    land the documents table as one-JSON-object-per-line files, read
    it back with an explicit schema under the PERMISSIVE corrupt-
    record policy, and prove losslessness with per-language counts,
    token mass, and a content checksum (sum of md5-derived text
    hashes mod P — exact integer arithmetic) that the oracle computes
    on the ORIGINAL parquet. n_corrupt must come back 0."""
    from otrrentetl_spark.catalog import SCHEMAS
    from otrrentetl_spark.sources.jsonl import CORRUPT_COL, read_jsonl, write_jsonl

    d = load_table(spark, sf_dir, "documents")
    path = _roundtrip_dir("jsonl", sf_dir)
    write_jsonl(d, path)
    back = read_jsonl(spark, path, SCHEMAS["documents"])
    checksum = F.pmod(text.hash_long("text"), F.lit(1_000_000_007))
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum(checksum).alias("content_checksum"),
        F.sum(F.col(CORRUPT_COL).isNotNull().cast("long")).alias("n_corrupt"),
    )


register(
    "jsonl_corpus_roundtrip",
    jsonl_corpus_roundtrip,
    """
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM(CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT)
                    % 1000000007) AS BIGINT) AS content_checksum,
           CAST(0 AS BIGINT) AS n_corrupt
    FROM documents GROUP BY lang ORDER BY lang
    """,
)


def orc_corpus_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC ingest/egress (the other columnar interchange format an
    analytics engine must speak): land the documents table as
    snappy-ORC, read it back with the explicit schema, and prove
    losslessness with the same per-language counts + content checksum
    the JSONL round-trip uses — the oracle computes them on the
    ORIGINAL parquet, so a writer/reader fidelity bug (encoding,
    nulls, unicode) breaks the hash."""
    from otrrentetl_spark.catalog import SCHEMAS

    d = load_table(spark, sf_dir, "documents")
    path = _roundtrip_dir("orc", sf_dir)
    d.write.mode("overwrite").option("compression", "snappy").orc(path)
    back = spark.read.schema(SCHEMAS["documents"]).orc(path)
    checksum = F.pmod(text.hash_long("text"), F.lit(1_000_000_007))
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum(checksum).alias("content_checksum"),
    )


register(
    "orc_corpus_roundtrip",
    orc_corpus_roundtrip,
    """
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM(CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT)
                    % 1000000007) AS BIGINT) AS content_checksum
    FROM documents GROUP BY lang ORDER BY lang
    """,
)


def csv_corpus_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV egress + ingest round-trip (the reference's native
    interchange format, S2 — here exercised on the WRITE side too):
    land documents as quoted/escaped CSV with headers, read back with
    the explicit schema in multiLine mode (text fields may embed the
    delimiter, quotes, or newlines), and prove losslessness with the
    same checksum aggregate the JSONL/ORC round-trips use, computed
    by the oracle on the ORIGINAL parquet."""
    from otrrentetl_spark.catalog import SCHEMAS

    d = load_table(spark, sf_dir, "documents")
    path = _roundtrip_dir("csv", sf_dir)
    (
        d.write.mode("overwrite")
        .option("header", "true")
        .option("quote", '"')
        .option("escape", '"')
        .csv(path)
    )
    back = (
        spark.read.schema(SCHEMAS["documents"])
        .option("header", "true")
        .option("quote", '"')
        .option("escape", '"')
        .option("multiLine", "true")
        .csv(path)
    )
    checksum = F.pmod(text.hash_long("text"), F.lit(1_000_000_007))
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum(checksum).alias("content_checksum"),
    )


register(
    "csv_corpus_roundtrip",
    csv_corpus_roundtrip,
    """
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM(CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT)
                    % 1000000007) AS BIGINT) AS content_checksum
    FROM documents GROUP BY lang ORDER BY lang
    """,
)


def _lsh_sql(ctes: str) -> str:
    return "WITH " + ctes.strip() + "\n    SELECT id_a, id_b, jaccard_sim FROM pairs"


register(
    "dedup_minhash_lsh_exact",
    dedup_minhash_lsh_exact,
    _lsh_sql(dedup.lsh_oracle_ctes(**dedup.LSH_EXACT_PARAMS)),
)
register(
    "dedup_minhash_lsh_pairs",
    dedup_minhash_lsh_pairs,
    _lsh_sql(dedup.lsh_oracle_ctes(**dedup.LSH_FAST_PARAMS)),
)


# ------------------------------------------------------------ k-NN join (X3)
def similarity_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: brute-force k-NN JOIN — every query vector (vec_id < 10)
    against the corpus (vec_id >= 10), top-3 by cosine each. The query
    side is broadcast (a bona-fide small dimension), the corpus side
    streams through one scan, and the per-query top-k is a window
    row_number over (query partition, cosine desc) — at scale this is
    the standard "score shard-locally, keep k per query" plan with the
    final top-k reduction handled by the window exchange."""
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    corpus = emb.filter(F.col("vec_id") >= 10)
    from pyspark.sql.window import Window

    scored = corpus.crossJoin(F.broadcast(q)).select(
        "qid",
        "vec_id",
        F.round(similarity.cosine(F.col("embedding"), F.col("qvec")), 6).alias(
            "cosine_sim"
        ),
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("qid", "vec_id", "cosine_sim", "rk")
        
    )


register(
    "similarity_knn_join",
    similarity_knn_join,
    """
    WITH q AS (
      SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qvec
      FROM embeddings WHERE vec_id < 10
    ), scored AS (
      SELECT q.qid, e.vec_id,
             ROUND(
               list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qvec)
               / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                        CAST(e.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(q.qvec, q.qvec))), 6) AS cosine_sim
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id >= 10
    ), ranked AS (
      SELECT qid, vec_id, cosine_sim,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY cosine_sim DESC, vec_id) AS rk
      FROM scored
    )
    SELECT qid, vec_id, cosine_sim, rk
    FROM ranked WHERE rk <= 3
    ORDER BY qid, rk
    """,
)


# ------------------------------------------- count-min sketch heavy hitters
_CMS_DEPTH = 4
_CMS_WIDTH = 512


def sketch_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency sketching: build a count-min sketch over the corpus
    token stream, then report the top-20 tokens by CMS estimate next
    to their exact counts (est >= exact always; equality when no
    bucket collision). The sketch is depth x width counters no matter
    the vocabulary size — the bounded-state path for corpus vocab
    stats at 100 TB, and counters ADD so per-partition/per-day
    sketches merge without rescanning (operators.sketch.cms_merge)."""
    from otrrentetl_spark.operators import sketch

    toks = _docs(spark, sf_dir).select(
        F.explode(text.tokens("text")).alias("tok")
    )
    cms = sketch.cms_build(toks, "tok", _CMS_DEPTH, _CMS_WIDTH)
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("exact_cnt"))
    est = sketch.cms_estimate(cms, exact.select("tok"), "tok", _CMS_DEPTH, _CMS_WIDTH)
    return (
        est.join(exact, "tok")
        .select("tok", "est", "exact_cnt")
        .orderBy(F.col("est").desc(), F.col("tok"))
        .limit(20)
    )


def _cms_sql() -> str:
    def bucket(j: int, expr: str = "tok") -> str:
        return (
            f"(CAST(concat('0x', substr(md5(concat('cms{j}:', {expr})), 1, 15)) "
            f"AS BIGINT) % {_CMS_WIDTH})"
        )

    hs = ", ".join(bucket(j) for j in range(_CMS_DEPTH))
    ds = ", ".join(str(j) for j in range(_CMS_DEPTH))
    return f"""
    WITH toks AS (
      SELECT unnest(CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                         ELSE regexp_split_to_array(trim(text), '\\s+') END) AS tok
      FROM documents
    ), keyed AS (
      SELECT tok, unnest([{ds}]) AS d, unnest([{hs}]) AS bucket FROM toks
    ), cms AS (
      SELECT d, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM keyed GROUP BY d, bucket
    ), exact AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS exact_cnt FROM toks GROUP BY tok
    ), cand AS (
      SELECT tok, unnest([{ds}]) AS d, unnest([{hs}]) AS bucket
      FROM (SELECT DISTINCT tok FROM toks)
    ), est AS (
      SELECT c.tok, MIN(COALESCE(m.cnt, 0)) AS est
      FROM cand c LEFT JOIN cms m ON c.d = m.d AND c.bucket = m.bucket
      GROUP BY c.tok
    )
    SELECT e.tok, e.est, x.exact_cnt
    FROM est e JOIN exact x ON e.tok = x.tok
    ORDER BY e.est DESC, e.tok
    LIMIT 20
    """


register("sketch_heavy_hitters", sketch_heavy_hitters, _cms_sql())


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal 1:N plumbing: frame-sample every video payload via
    mapInPandas (variable rows out per row in). The decode is a
    deterministic character-slice stub (no codecs in this image) so the
    oracle replays every frame hash; the Spark-side batching/explode
    shape is the real thing."""
    media = multimodal.build_media_table(_docs(spark, sf_dir))
    return multimodal.sample_frames(media, every_ms=500, max_frames=8)


register(
    "multimodal_frame_sample",
    multimodal_frame_sample,
    """
    WITH vid AS (
      SELECT doc_id AS media_id, text, length(text) AS n,
             LEAST(GREATEST((n_chars * 10) // 500, 1), 8) AS fc
      FROM documents WHERE doc_id % 3 = 2
    ), frames AS (
      SELECT media_id, CAST(i AS INTEGER) AS frame_idx,
             CAST((i + 1) * n // fc - i * n // fc AS INTEGER) AS frame_chars,
             md5(substr(text, i * n // fc + 1, (i + 1) * n // fc - i * n // fc))
               AS frame_md5
      FROM vid CROSS JOIN range(0, 8) t(i)
      WHERE i < fc
    )
    SELECT media_id, frame_idx, frame_chars, frame_md5 FROM frames
    """,
)


# memoized documents row count per sf_dir (parquet footer metadata —
# a column-less count never touches data pages; caching it drops a
# ~0.1 s job from every rebuild of the plan). Keyed on the parquet
# source's catalog.source_stamp as well as the path so an in-process fixture
# rebuild at the same path invalidates the memo instead of silently
# scoring tf-idf against the old corpus size — unlike fan_out's memo,
# row count is NOT an immutable property of a directory name.
_NDOCS_MEMO: dict[tuple, float] = {}


def _ndocs(docs: DataFrame, sf_dir: str) -> float:
    import os

    try:
        key = (sf_dir, *source_stamp(os.path.join(sf_dir, "documents.parquet")))
    except OSError:  # non-local/derived layout: fall back to path-only
        key = (sf_dir,)
    if key not in _NDOCS_MEMO:
        _NDOCS_MEMO[key] = float(docs.count())
    return _NDOCS_MEMO[key]


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document keyword extraction: top-3 terms per doc by a TF-IDF
    score with a rational idf, score = tf·(N+1)/(df+1). (The usual
    log-idf is avoided deliberately: ln() is not bit-portable across
    libm implementations, while this monotone-in-df variant is exact
    IEEE arithmetic; ranking quality is equivalent for ranking within
    a fixed df.)

    Scale shape (r4 verdict rewrite — the previous df-as-window plan
    sorted the full (term, doc) pair frame by term, and a stopword's
    partition was the whole corpus): ONE text shuffle partitioned by
    doc_id up front, after which hash(doc_id) satisfies every
    downstream clustering requirement — the (doc,term) tf aggregate,
    AND the per-doc rank window — so neither re-shuffles anything.
    (The source parquet packs heavily-compressed text into few row
    groups, so without the explicit repartition the explode+aggregate
    pipeline runs at file parallelism, not cluster parallelism; at
    10× docs this repartition alone is a 2× wall win.) Document
    frequency is a plain groupBy(term) with map-side combine — a hot
    stopword collapses inside each upstream partition, so the df
    shuffle carries ≤ #partitions rows per term — and joins back as
    an explicit broadcast: no sort, no term-keyed shuffle of the pair
    frame, no skew exposure. Total exchanges: text-by-doc (full), df
    (vocabulary-sized, tiny).

    Broadcast-limit note: vocabulary grows sublinearly (Heaps' law)
    but at 100 TB it can exceed the broadcast cap; the drop-in
    fallback is a df-threshold head/tail split — broadcast only terms
    with df ≥ T (≤ pair_count/T of them) and shuffle-join the rare
    tail, whose keys are < T pairs each, so neither side has a hot
    key. Measured here, the split costs ~0.3 s of extra stages at
    every scale while the tail is empty, so the single broadcast is
    the right call until vocab size demands otherwise.

    Reference parity: no text analytics in the reference (SURVEY.md
    §2.12 ⊕); X4 north-star scope."""
    # plain load_table (not _docs_flat): the repartition("doc_id")
    # below IS this plan's fan-out — a round-robin hop first would
    # shuffle the text twice
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # Bounded driver-side state: the corpus row count is parquet
    # footer METADATA, folded in as a literal (memoized per sf_dir).
    n_docs = _ndocs(docs, sf_dir)
    toks = docs.repartition("doc_id").select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("term")
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(F.broadcast(dfreq), "term").withColumn(
        "score",
        F.col("tf") * (F.lit(n_docs) + F.lit(1.0)) / (F.col("df") + F.lit(1.0)),
    )
    w = W.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "rk", "term", "score")
    )


register(
    "tfidf_top_terms",
    tfidf_top_terms,
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf
      FROM toks WHERE term <> '' GROUP BY 1, 2
    ), dfreq AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
    ), nd AS (
      SELECT COUNT(*) AS n_docs FROM documents
    ), scored AS (
      SELECT tf.doc_id, tf.term,
             tf.tf * (nd.n_docs + 1.0) / (dfreq.df + 1.0) AS score
      FROM tf JOIN dfreq USING (term) CROSS JOIN nd
    ), ranked AS (
      SELECT doc_id, term, score,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, term ASC) AS rk
      FROM scored
    )
    SELECT doc_id, rk, term, score FROM ranked WHERE rk <= 3
    """,
)


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2c completed: SimHash near-dup PAIRS via pigeonhole banding —
    a pair within Hamming ≤ 3 of a 16-bit sketch must agree exactly on
    at least one of 4 contiguous 4-bit bands, so candidates come from
    a band equi-join (shuffle on band key, never all-pairs) and only
    candidates pay the exact bit_count(xor) verify. The oracle replays
    sketch, banding, join, and verify bit-for-bit."""
    d = _docs(spark, sf_dir).filter(F.col("doc_id") <= 200)
    return dedup.simhash_near_pairs(
        d, bits=_SH_BITS, bands=4, max_hamming=3
    )


def _simhash_pairs_sql() -> str:
    votes = " + ".join(
        f"(CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h >> {b}) & 1 = 1 "
        f"THEN 1 ELSE -1 END)) > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(_SH_BITS)
    )
    width = _SH_BITS // 4
    mask = (1 << width) - 1
    return f"""
    WITH base AS (
      SELECT doc_id,
             CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks
      FROM documents WHERE doc_id <= 200
    ), hashed AS (
      SELECT doc_id,
             list_transform(toks, t -> CAST(concat('0x',
                 substr(md5(t), 1, 15)) AS BIGINT)) AS hs
      FROM base
    ), sk AS (
      SELECT doc_id, CAST(COALESCE({votes}, 0) AS BIGINT) AS sk
      FROM hashed
    ), banded AS (
      SELECT doc_id, sk, b,
             (sk >> (b * {width})) & {mask} AS band_key
      FROM sk CROSS JOIN range(0, 4) t(b)
    ), bucket_ok AS (
      -- the engine's max_bucket_size cap, modeled (ADVICE r3):
      -- oversized bands contribute no candidates on either side
      SELECT b, band_key FROM banded GROUP BY b, band_key
      HAVING COUNT(*) <= {dedup.DEFAULT_MAX_BUCKET}
    ), cand AS (
      SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
             l.sk AS sk_a, r.sk AS sk_b
      FROM banded l
      JOIN bucket_ok k ON l.b = k.b AND l.band_key = k.band_key
      JOIN banded r
        ON l.b = r.b AND l.band_key = r.band_key AND l.doc_id < r.doc_id
    )
    SELECT id_a, id_b, CAST(bit_count(xor(sk_a, sk_b)) AS INTEGER) AS hamming
    FROM cand
    WHERE bit_count(xor(sk_a, sk_b)) <= 3
    """


register("dedup_simhash_pairs", dedup_simhash_pairs, _simhash_pairs_sql())


def llm_data_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data preparation pipeline as ONE plan:
    quality gates (token count + uniqueness ratio) → exact dedup
    (min doc_id per normalized-content md5) → benchmark
    decontamination (no shared word-4-gram with the held-out set) →
    8-token chunk packing accounting → deterministic 90/10 hash
    split → per-split budget totals. Composes the stages that are
    each oracle-verified standalone (text_stats, dedup_exact,
    decontaminate_ngram_overlap, udtf_lateral_chunks,
    sample_stratified_mix) into the end-to-end shape a 100 TB corpus
    run executes; every decision is md5-deterministic so the whole
    composition hash-matches.

    Scale notes: gates/dedup-hash/chunk-count are narrow projections;
    dedup groups on the 16-byte hash; the bench gram set is broadcast
    (doc_id%25 benchmark docs excluded from the corpus side). The
    corpus is tokenized exactly ONCE: the token array rides through
    the dedup aggregate (min_by, like the oracle's arg_min) and the
    decontamination grams derive from the carried array — `text`
    itself is dropped before the shuffle, so the dedup exchange
    carries tokens + counts, not tokens + the original string too."""
    n = 4  # word-gram width — matches curation_ops._DECON_N
    d = _docs_flat(spark, sf_dir)

    def grams_of(tk: Column) -> Column:
        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size(tk) - (n - 1), F.lit(1))),
                lambda i: F.concat_ws(" ", F.slice(tk, i, n)),
            )
        )

    # explode(array(struct)) is a deliberate GENERATE BARRIER: without
    # it, PushDownPredicates rewrites the gate filters in terms of the
    # underlying tokenize expression and pushes them below the fan_out
    # repartition — the full tokenizer then runs (three times, once
    # per predicate) inside the SERIAL scan stage. Predicates cannot
    # cross a Generate on generated attributes, so the tokenize stays
    # post-exchange (parallel) and single-evaluation. Measured: 1.6 →
    # 1.3 s at sf0.1, identical output.
    dt = d.select(
        "doc_id",
        F.md5(text.normalize_text("text")).alias("h"),
        F.explode(
            F.array(
                bind(
                    text.tokens("text"),
                    lambda tk: F.struct(
                        F.size(tk).alias("n_tok"),
                        F.size(F.array_distinct(tk)).alias("n_uniq"),
                        tk.alias("t"),
                    ),
                )
            )
        ).alias("__s"),
    ).select("doc_id", "h", "__s.*")
    base = dt.filter(F.col("doc_id") % 25 != 0)  # held-out bench docs excluded
    gated = base.filter(
        (F.col("n_tok") >= 20)
        & (F.col("n_uniq").cast("double") / F.col("n_tok") >= 0.1)
    )
    deduped = gated.groupBy("h").agg(
        F.min("doc_id").alias("doc_id"),
        F.min_by("n_tok", "doc_id").alias("n_tok"),
        F.min_by("t", "doc_id").alias("t"),
    )
    bench = (
        dt.filter((F.col("doc_id") % 25 == 0) & (F.col("n_tok") >= n))
        .select(F.explode(grams_of(F.col("t"))).alias("g"))
        .distinct()
    )
    # Single-consumer decontamination (optimization guide §2.4 + the
    # multi-branch re-run gotcha): the former shape — contaminated =
    # deduped→explode→join(bench)→distinct, then deduped LEFT ANTI
    # contaminated — consumed `deduped` from two branches with
    # different column pruning, so the exchange subtrees stopped
    # canonicalizing identically and ReusedExchange never fired: the
    # whole scan→tokenize→gate→dedup subtree ran TWICE (documents
    # scanned+tokenized 3× per run including the bench side). Fused
    # flag form: explode each kept doc's grams once (empty-gram row
    # for docs shorter than the gram width — explode_outer keeps
    # them), broadcast-left-join the bench set, and collapse back to
    # one row per doc. All grams of a doc sit in one partition, so
    # the groupBy's map-side partial aggregation reduces the exchange
    # to ~1 row per doc. Same result: a doc is dropped iff n_tok >= n
    # and at least one gram hits the bench set.
    flagged = (
        deduped.select(
            "doc_id",
            "n_tok",
            F.explode_outer(
                F.when(F.col("n_tok") >= n, grams_of(F.col("t"))).otherwise(
                    F.array().cast("array<string>")
                )
            ).alias("g"),
        )
        .join(F.broadcast(bench.withColumn("__hit", F.lit(1))), "g", "left")
        .groupBy("doc_id")
        .agg(F.max("n_tok").alias("n_tok"), F.max("__hit").alias("__hit"))
    )
    clean = flagged.filter(F.col("__hit").isNull())
    split = F.when(
        F.pmod(text.hash_long(F.col("doc_id").cast("string"), seed="split:"), F.lit(10))
        < 9,
        "train",
    ).otherwise("val")
    return (
        clean.select(
            split.alias("split"),
            "n_tok",
            F.ceil(F.col("n_tok") / F.lit(8)).alias("n_chunks"),
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.sum("n_chunks").alias("n_chunks"),
        )
    )


def _pipeline_v2_sql() -> str:
    n = 4  # keep in sync with llm_data_pipeline_v2
    return f"""
    WITH toks AS (
      SELECT doc_id, text,
             CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE regexp_split_to_array(trim(text), '\\s+') END AS t
      FROM documents
    ), base AS (
      SELECT doc_id, text, len(t) AS n_tok, len(list_distinct(t)) AS n_uniq, t
      FROM toks WHERE doc_id % 25 <> 0
    ), gated AS (
      SELECT * FROM base
      WHERE n_tok >= 20 AND CAST(n_uniq AS DOUBLE) / n_tok >= 0.1
    ), deduped AS (
      SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS h,
             MIN(doc_id) AS doc_id,
             arg_min(n_tok, doc_id) AS n_tok,
             arg_min(t, doc_id) AS t
      FROM gated GROUP BY 1
    ), bench AS (
      SELECT DISTINCT unnest(list_distinct(
               [array_to_string(t[i:i+{n - 1}], ' ')
                for i in range(1, GREATEST(len(t) - {n - 1}, 1) + 1)])) AS g
      FROM toks WHERE doc_id % 25 = 0 AND len(t) >= {n}
    ), contaminated AS (
      SELECT DISTINCT doc_id
      FROM (
        SELECT doc_id, unnest(list_distinct(
                 [array_to_string(t[i:i+{n - 1}], ' ')
                  for i in range(1, GREATEST(len(t) - {n - 1}, 1) + 1)])) AS g
        FROM deduped WHERE len(t) >= {n}
      )
      WHERE g IN (SELECT g FROM bench)
    ), clean AS (
      SELECT * FROM deduped
      WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
    )
    SELECT CASE WHEN (CAST(concat('0x', substr(md5(concat('split:',
                       CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 10) < 9
                THEN 'train' ELSE 'val' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(SUM(CAST(CEIL(n_tok / 8.0) AS BIGINT)) AS BIGINT) AS n_chunks
    FROM clean GROUP BY 1
    """


register("llm_data_pipeline_v2", llm_data_pipeline_v2, _pipeline_v2_sql())
