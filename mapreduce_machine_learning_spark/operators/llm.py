"""LLM-training-data pipeline operators (SURVEY.md §2.8): dedup (exact +
MinHash/LSH + near-dup Jaccard), similarity search, TF-IDF, text statistics,
and the multimodal text×vector join.

Design for cross-engine determinism: the MinHash family is built from
``md5(seed || '|' || token)`` — both engines produce identical md5 hex, so
signatures, band keys, and candidate sets agree exactly (no engine-internal
hash functions anywhere).

Scale design: MinHash-LSH is the 100 TB dedup path — signatures and band
keys are one Arrow map over the document scan (no shuffle; each distinct
token of a batch is hashed once per seed), banding is a groupBy on the band
key, and only candidate *buckets* ever join, never all pairs. The brute-force
cosine queries are the exact baselines; the blocked/banded variants are the
scale path.
"""

from __future__ import annotations

import os

from pyspark.sql import Window
from pyspark.sql import functions as F

from mapreduce_machine_learning_spark.determinism import np_r6, r6
from mapreduce_machine_learning_spark.functions import l2norm
from mapreduce_machine_learning_spark.io import load_table as T, worker_prelude
from mapreduce_machine_learning_spark.registry import query
from mapreduce_machine_learning_spark.runtime import checkpoint as _ckpt

N_HASHES = 16
N_BANDS = 4
ROWS_PER_BAND = 4
SEEDS = [f"s{i:02d}" for i in range(N_HASHES)]


@query(
    "q_llm_dedup_exact",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS docs,
           CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS survivors,
           CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) AS duplicates
    FROM documents
    GROUP BY lang
    """,
)
def q_llm_dedup_exact(spark, sf_dir):
    """Exact dedup by content hash: per-language survivor/duplicate counts
    (survivor = one doc per distinct md5(text)). At 100 TB this is a single
    hash-shuffle on a 16-byte key instead of full text — the standard first
    pass of every training-data pipeline."""
    d = T(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("docs"),
        F.countDistinct(F.md5("text")).alias("survivors"),
        (F.count(F.lit(1)) - F.countDistinct(F.md5("text"))).alias("duplicates"),
    )


BANDS_SCHEMA = "doc_id long, band_id int, band_key string"


def minhash_band_keys(text):
    """The SQL-expression form of a text's N_BANDS band keys, as one array
    Column: sig_i = array_min(transform(distinct tokens, t → md5(seed|t)))
    row-wise, band key = md5 of its ROWS_PER_BAND concatenated signatures.
    Stateless (no explode, no aggregate), so the streaming ingest probe
    uses it per micro-batch; MIN over a token multiset equals MIN over its
    distinct set, so it agrees with the oracle's DISTINCT→MIN aggregation
    and with `minhash_band_batches` (tests/test_minhash_kernel.py). Null
    text gives an array of null keys."""
    toks = F.array_distinct(F.split(text, " "))

    def sig_expr(seed):
        # single-arg lambda: a 2-arg transform lambda would receive the
        # element INDEX as its second argument
        return F.array_min(
            F.transform(
                toks, lambda t: F.md5(F.concat(F.lit(seed + "|"), t))
            )
        )

    sigs = [sig_expr(s) for s in SEEDS]
    return F.array(
        *[
            F.md5(
                F.concat(
                    *[sigs[b * ROWS_PER_BAND + r] for r in range(ROWS_PER_BAND)]
                )
            )
            for b in range(N_BANDS)
        ]
    )


def _make_band_kernel(seeds, n_bands, rows_per_band):
    """Build the Arrow-batch band kernel (`mapInPandas`, schema
    BANDS_SCHEMA): the band rows of a (doc_id, text) frame, n_bands per
    doc with non-null text. Each DISTINCT token of the batch is md5'd once
    per seed, not each occurrence: a 10k-doc batch repeats its tokens
    ~8,700x on the 31-token testdata and 11-22x on the 20k-vocabulary
    scaling corpus (tools/gen_scaling_corpus.py), and the md5 count grows
    with the batch's distinct tokens; a doc's signature is the minimum
    of its tokens' digest ranks (`np.minimum.reduceat` over the
    doc-contiguous token runs), mapped back to the digest. Hex digests
    have equal length, so rank order is the byte order Spark's and
    DuckDB's MIN use. Band keys are md5'd once per DISTINCT tuple of
    rows_per_band signature ranks (`np.unique(axis=0)`): sf0.1's 5,000
    docs hold 257-371 distinct tuples per band. Splitting on " " keeps
    empty tokens exactly like Spark's `split`. Built as a closure so
    Spark ships it by value and the Python workers never import this
    package."""

    def kernel(it):
        worker_prelude()
        import hashlib
        from itertools import chain

        import numpy as np
        import pandas as pd

        for pdf in it:
            pdf = pdf[pdf["text"].notna()]
            if not len(pdf):  # reduceat/argsort need at least one token
                continue
            toks = [t.split(" ") for t in pdf["text"]]
            lens = np.fromiter(map(len, toks), np.int64, len(toks))
            starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            codes, vocab = pd.factorize(
                np.array(list(chain.from_iterable(toks)), dtype=object)
            )
            digests = np.array(
                [
                    [hashlib.md5(f"{s}|{v}".encode()).hexdigest() for v in vocab]
                    for s in seeds
                ]
            )  # (seeds, vocab)
            order = np.argsort(digests, axis=1)
            by_rank = np.take_along_axis(digests, order, axis=1)
            # one seed at a time: peak memory is one token-length vector,
            # not a (seeds × tokens) matrix
            min_rank = np.empty((len(pdf), len(seeds)), dtype=np.int32)
            for s in range(len(seeds)):
                rank = np.empty(len(vocab), dtype=np.int32)
                rank[order[s]] = np.arange(len(vocab), dtype=np.int32)
                min_rank[:, s] = np.minimum.reduceat(rank[codes], starts)
            keys = []
            for b in range(n_bands):
                lo = b * rows_per_band
                tuples, inverse = np.unique(
                    min_rank[:, lo : lo + rows_per_band], axis=0, return_inverse=True
                )
                sigs = [by_rank[lo + i, tuples[:, i]] for i in range(rows_per_band)]
                hashed = np.array(
                    [hashlib.md5("".join(t).encode()).hexdigest() for t in zip(*sigs)],
                    dtype=object,
                )
                keys.append(hashed[inverse.reshape(-1)])
            yield pd.DataFrame(
                {
                    "doc_id": np.tile(pdf["doc_id"].to_numpy(), n_bands),
                    "band_id": np.repeat(
                        np.arange(n_bands, dtype=np.int32), len(pdf)
                    ),
                    "band_key": np.concatenate(keys),
                }
            )

    return kernel


# the engine's band kernel; `_band_frame` is its only production caller and
# tests/test_minhash_kernel.py pins it to `minhash_band_keys`
minhash_band_batches = _make_band_kernel(SEEDS, N_BANDS, ROWS_PER_BAND)


# Session-scoped materialization of shared intermediates (delegates to
# runtime.materialize; see its module docstring). The dedup family (minhash
# buckets → verified pairs → components → survivors) is a PIPELINE: each
# stage's input is the previous stage's output, and a real deployment
# writes each intermediate once and reads it from every consumer —
# re-deriving the near-dup pairs inside each downstream query would
# recompute the signature+banding+verify work 3× per session. Results are
# identical with or without the cache.
from mapreduce_machine_learning_spark.runtime import (  # noqa: E402
    is_audit_mode,
    materialize as _materialize,
)


def _band_frame(spark, sf_dir):
    """(doc_id, band_id, band_key), N_BANDS rows per doc: one
    `minhash_band_batches` pass over the scan's own split, unpersisted.
    No repartition ahead of it — the kernel needs no co-location, and on
    local[4] the same kernel behind a 64-way doc_id repartition took
    5.2 s per cold sf0.1 collect (64 Python tasks) vs 0.65 s on the scan
    split. A one-row-group parquet file is one non-empty split, so the
    kernel runs as one Python task; it still beats the old 4-core JVM
    plan at 64x the scaling corpus (band table 25 s vs 40 s,
    CHANGES.md)."""
    return (
        T(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .mapInPandas(minhash_band_batches, schema=BANDS_SCHEMA)
    )


def _bands(spark, sf_dir, by_doc=False):
    """`_band_frame`'s rows, materialized once per session (4 rows/doc of
    id, band and 32-char key) for the consumers that read the table more
    than once: near-dup pairs, incremental dedup, dup sources and the
    streaming probe (q_llm_dup_sources reads it through the near-dup
    pairs). `q_llm_minhash` never persists it, but reads it through
    Spark's cache matching when one of these has.

    ``by_doc=True`` gives the same rows hash-partitioned on doc_id, for
    the near-dup band self-join: a broadcast band join keeps its stream
    side's partitioning, so the `.distinct()` over the pair stream (12.5M
    join rows at sf0.1) needs no exchange, and `q_llm_neardup_pairs`
    runs in ~16.5 s instead of ~25 s on local[32] over 4 cores. It is
    materialized too, so the exchange runs once per session; 2× the
    default parallelism, floored at 64, keeps the distinct spread over
    the cluster."""
    bands = _materialize(
        spark, sf_dir, "bands", lambda: _band_frame(spark, sf_dir)
    )
    if not by_doc:
        return bands
    n_parts = max(64, 2 * spark.sparkContext.defaultParallelism)
    return _materialize(
        spark,
        sf_dir,
        "bands_by_doc",
        lambda: bands.repartition(n_parts, "doc_id"),
    )


_SIG_SQL = ",\n               ".join(
    f"MIN(md5('{s}|' || token)) AS sig{i}" for i, s in enumerate(SEEDS)
)
_BAND_SQL = "\n        UNION ALL\n".join(
    f"        SELECT doc_id, {b} AS band_id, "
    f"md5(sig{b * 4} || sig{b * 4 + 1} || sig{b * 4 + 2} || sig{b * 4 + 3}) "
    f"AS band_key FROM sigs"
    for b in range(N_BANDS)
)
_BANDS_CTE = f"""
    toks AS (
        SELECT DISTINCT doc_id, UNNEST(string_split(text, ' ')) AS token
        FROM documents
    ),
    sigs AS (
        SELECT doc_id,
               {_SIG_SQL}
        FROM toks GROUP BY doc_id
    ),
    bands AS (
{_BAND_SQL}
    )
"""


@query(
    "q_llm_minhash",
    oracle=f"""
    WITH {_BANDS_CTE}
    SELECT band_id, band_key, CAST(COUNT(*) AS BIGINT) AS group_size
    FROM bands
    GROUP BY band_id, band_key
    HAVING COUNT(*) > 1
    """,
)
def q_llm_minhash(spark, sf_dir):
    """MinHash + LSH banding (k=16 hashes, 4 bands × 4 rows, SURVEY §2.9
    seeds): emits every band bucket holding >1 doc — the candidate groups.
    The md5-based hash family makes signatures engine-portable. Pipeline:
    one `minhash_band_batches` map over the document scan (signatures and
    band keys, no shuffle) → band groupBy (the plan's only exchange);
    nothing ever compares all pairs.

    The kernel's output streams straight into the aggregate, unpersisted:
    one pass reads the rows once, so a memo write would only add a cache
    build that nothing reads. If the session has persisted `_bands`,
    Spark's CacheManager matches this same plan and reads the cached rows
    instead of running the kernel."""
    return (
        _band_frame(spark, sf_dir)
        .groupBy("band_id", "band_key")
        .agg(F.count(F.lit(1)).alias("group_size"))
        .filter(F.col("group_size") > 1)
    )


@query(
    "q_llm_neardup_pairs",
    oracle=f"""
    WITH {_BANDS_CTE},
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    ),
    sizes AS (
        SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS n_tok
        FROM toks GROUP BY doc_id
    ),
    inter AS (
        SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS DOUBLE) AS n_inter
        FROM cand c
        JOIN toks ta ON ta.doc_id = c.doc_a
        JOIN toks tb ON tb.doc_id = c.doc_b AND tb.token = ta.token
        GROUP BY c.doc_a, c.doc_b
    )
    SELECT i.doc_a, i.doc_b,
           ROUND(i.n_inter / (sa.n_tok + sb.n_tok - i.n_inter), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE i.n_inter / (sa.n_tok + sb.n_tok - i.n_inter) >= 0.5
    ORDER BY ROUND(i.n_inter / (sa.n_tok + sb.n_tok - i.n_inter), 6) DESC,
             i.doc_a, i.doc_b
    LIMIT 1000
    """,
)
def q_llm_neardup_pairs(spark, sf_dir):
    """Near-duplicate verification: LSH candidate pairs (≥1 shared band) get
    their exact Jaccard over distinct-token sets; pairs ≥ 0.5 survive. The
    expensive exact measure only runs on the candidate set — that asymmetry
    is the whole point of LSH at scale.

    EXPLICIT CAP: output is the top-1000 pairs by (jaccard DESC, doc_a,
    doc_b). The synthetic corpus shares one small vocabulary, so near-dup
    pairs grow quadratically (65k at sf0.01, 6.2M at sf0.1) — an unbounded
    pair listing is the wrong deliverable at any scale; real pipelines fold
    pairs into connected components and keep one survivor per component."""
    # re-impose the contract ordering: the memoized frame stores rows, not
    # an ORDER BY; sorting 1000 rows is free
    return _neardup_pairs(spark, sf_dir).orderBy(
        F.desc("jaccard"), "doc_a", "doc_b"
    )


def _neardup_pairs(spark, sf_dir):
    """The verified top-1000 near-dup pair list, materialized once per
    session — it is the input of the components and survivor stages (see
    _materialize: the pipeline writes each intermediate once)."""

    def build():
        return _neardup_pairs_plan(spark, sf_dir)

    return _materialize(spark, sf_dir, "neardup_pairs", build)


def _cand_pairs(spark, sf_dir):
    """Distinct LSH candidate pairs (≥1 shared band), materialized once per
    session: the verify stage consumes the pair stream AND its distinct doc
    ids (to bound the token-array broadcast), so the band self-join must not
    run twice."""

    def build():
        # the band table is itself memoized (_bands), so Catalyst's two
        # scans of the self-join subtree read a materialized RDD — the
        # Python band kernel never runs twice
        bands = _bands(spark, sf_dir, by_doc=True)
        a = bands.alias("a")
        b = bands.alias("b")
        return (
            a.join(
                b,
                (F.col("a.band_id") == F.col("b.band_id"))
                & (F.col("a.band_key") == F.col("b.band_key"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .distinct()
        )

    return _materialize(spark, sf_dir, "cand_pairs", build)


# Plan-side cap on the estimated candidate-doc token-array broadcast
# (VERDICT r6): an explicit F.broadcast() hint has a hard ~8 GB / 512M-row
# ceiling AQE cannot rescue, so the hint must be conditional. The estimate
# counts BOTH broadcast copies (the frame ships once per pair side —
# ADVICE r7), so 256 MiB caps the actual shipped bytes at ~32x margin
# under the hard ceiling while staying in the regime where one
# executor-resident map beats shuffling the (much larger) pair stream twice;
# past it the SAME array join runs hint-free as a shuffle (sort-merge) join
# — identical values, two extra exchanges, no ceiling.
_VERIFY_BROADCAST_CAP_B = 256 << 20


def _verify_arrays_fit_broadcast(tok_arrays, cap_b=_VERIFY_BROADCAST_CAP_B):
    """Cheap plan-time size probe of the verify stage's candidate-doc
    token-array frame: rows and total token count from the (persisted)
    frame, folded into an UnsafeRow-shaped byte estimate — 8 B per int64
    token in `toks` + ~4 B in the half-length `pref` slice + 64 B/row
    headers (doc_id, n_tok, array/offset headers). The whole thing ×2
    because the frame broadcasts TWICE — once per pair side (`ta` and
    `tb` below are both this frame), and the ceiling applies to what
    actually ships (ADVICE r7: a one-copy estimate silently halved the
    documented margin). ADVICE r8 asked whether broadcast-exchange REUSE
    makes the ×2 a double-count (ta/tb project the same persisted frame,
    so Spark could ship one copy); measured: it does not — the two
    differently-aliased projections do NOT collapse into one
    BroadcastExchange, the final adaptive plan carries two
    BroadcastExchange and zero ReusedExchange (pinned by
    tests/test_plans.py::test_verify_join_strategy_is_conditional), and
    the degenerate-corpus byte audit counts n_broadcasts=3 (ta + tb + the
    cand-id semi join) with broadcast_bytes ≈ 2× the one-copy frame size
    (SHUFFLE_neardup_degenerate_r7.json). Should a future Spark version
    start reusing the exchange, the ×2 degrades gracefully into an upper
    bound on shipped bytes: the gate would flip to the shuffle regime at
    ~128 MiB actually shipped — a conservative early flip, identical
    values either way. One aggregate job over a frame the main action
    materializes anyway; the pair-stream join that follows dwarfs it."""
    n_docs, n_toks = tok_arrays.agg(
        F.count("*"), F.coalesce(F.sum("n_tok"), F.lit(0.0))
    ).first()
    est_b = 2 * int(12 * n_toks + 64 * n_docs)
    return est_b <= cap_b, est_b


# last gate decision of _verified_jaccard (fits / est_b / cap_b /
# audit_skip / explicit_cap) — a read-only measurement seam, never an input
_LAST_VERIFY_GATE: dict = {}


def _resolve_verify_cap(broadcast_cap_b):
    """Cap precedence: explicit argument > SPARK_GRAFT_VERIFY_BCAST_CAP_B
    env (ops/audit knob — lets tools/shuffle_audit.py measure the shuffle
    regime on a corpus whose arrays would otherwise fit the broadcast) >
    module default."""
    if broadcast_cap_b is not None:
        return broadcast_cap_b
    env = os.environ.get("SPARK_GRAFT_VERIFY_BCAST_CAP_B")
    return int(env) if env else _VERIFY_BROADCAST_CAP_B


def _band_candidate_ids(bands, id_col="doc_id", split=None):
    """Distinct ids of docs occupying a band bucket with >1 occupant — by
    construction exactly the docs that appear in ≥1 LSH candidate pair
    (every such doc pairs with its ≥1 bucket-mates; a doc only in
    singleton buckets pairs with nobody). Used to bound the verify
    stage's token-array frame WITHOUT a pass over the pair stream: the
    r12 shape re-projected the |pairs|-row candidate stream twice and
    ran union+distinct over it (13.4M rows at sf0.1 → 5,000 ids); this
    reads the band table instead (4 rows/doc — 20k rows at sf0.1, and
    always |pairs| ≥ |candidate docs| ≥ |big-bucket docs|, with |pairs|
    quadratic in bucket occupancy while the band table stays linear in
    the corpus — guide §2.3 "shuffle keys, not payloads"). Plan shape:
    bucket sizes are a partial-aggregated groupBy over the (persisted)
    band table; the bucket list joins back hint-free (AQE broadcasts it
    at this scale; at 100 TB it degrades to a shuffle join on the band
    key, still linear); the final distinct runs exchange-free when the
    band table is hash-partitioned by doc_id (`_bands(by_doc=True)`).

    For a TWO-SIDED candidate stream (the incremental inc×ex dedup) pass
    ``split``: a boolean Column over the band table marking the incoming
    side. Only buckets holding at least one doc from EACH side then
    count — exactly the docs appearing in ≥1 cross-side pair (a pair
    (i, e) exists iff some bucket holds both, putting both docs in a
    mixed bucket; conversely every mixed-bucket doc pairs with the other
    side's occupants). Same band-table-linear aggregate, never a
    pair-stream pass; vs the one-sided bound it is a strict subset, so
    the token-array frame (and its broadcast — ADVICE r13) shrinks from
    "all big-bucket docs" to the actual cross-side participants without
    dropping any verified pair."""
    if split is None:
        big = (
            bands.groupBy("band_id", "band_key")
            .agg(F.count(F.lit(1)).alias("n_occ"))
            .filter(F.col("n_occ") > 1)
            .select("band_id", "band_key")
        )
    else:
        side = F.when(split, 1).otherwise(0)
        big = (
            bands.groupBy("band_id", "band_key")
            .agg(
                F.max(side).alias("has_a"),
                F.min(side).alias("min_side"),
            )
            .filter((F.col("has_a") == 1) & (F.col("min_side") == 0))
            .select("band_id", "band_key")
        )
    return (
        bands.join(big, ["band_id", "band_key"], "left_semi")
        .select(F.col(id_col).alias("doc_id"))
        .distinct()
    )


def _verified_jaccard(
    docs, cand, left, right, threshold=0.5, broadcast_cap_b=None,
    cand_ids=None,
):
    """Exact-Jaccard verification of a candidate pair stream: returns
    ``(left, right, jac)`` for pairs with raw distinct-token Jaccard
    ≥ threshold. Shared by the full near-dup pipeline (doc_a/doc_b) and
    the incremental ingest dedup (inc_id/ex_id).

    Intersections run on per-doc token ARRAYS broadcast to the pair stream
    — size(array_intersect(a, b)) per pair — instead of exploding (doc,
    token) and double-joining on token (which put a |pairs|·|tokens/doc|
    ≈ half-billion-row intermediate through two shuffles at sf0.1; the
    array form measured ~4× faster end to end). The doc→array map is
    bounded by the candidate DOC set, not the pair set: the arrays side is
    semi-join-restricted to the distinct candidate ids BEFORE any
    broadcast, so what could ship to every executor is the docs that
    survived LSH banding, never the whole corpus.

    JOIN STRATEGY IS CONDITIONAL (VERDICT r6): on a degenerate corpus
    where LSH prunes little — the shipped synthetic table is exactly
    that, candidate docs ≈ all docs — an UNCONDITIONAL F.broadcast()
    hint would hit the hard ~8 GB / 512M-row broadcast ceiling that AQE
    cannot rescue. So the hint is gated on a plan-time byte estimate of
    the token-array frame (`_verify_arrays_fit_broadcast`, one cheap
    aggregate over the persisted frame): under `broadcast_cap_b` the two
    array sides broadcast (one executor-resident map, zero pair-stream
    shuffles); over it the SAME join runs hint-free and Spark shuffles
    both sides (sort-merge) — identical values, linear-in-input
    exchanges, no ceiling. Both regimes are plan-pinned by
    tests/test_plans.py::test_verify_join_strategy_is_conditional and
    byte-measured in SHUFFLE_neardup_audit.json (degenerate-corpus row).
    Under ``runtime.plan_audit_mode`` the probe is skipped (plan walks
    must not execute jobs) and the default broadcast regime is assumed.

    Token sets are xxhash64 INT arrays, not strings: array_intersect only
    feeds Jaccard through |A∩B| and |A|, |B| — any injective token→int64
    map preserves those counts, and the engine-internal hash never crosses
    to the oracle (which intersects the raw strings). Integer hash-set
    probes measured ~1.5× faster end-to-end than string probes on the
    6.7M-pair stream. Collision risk (would shrink a count by 1):
    ~|vocab|²/2⁶⁵ per doc ≈ 1e-15, ~2e-11 corpus-wide.

    Two LOSSLESS prefilters from the set-similarity-join literature
    (PPJoin family, Xiao et al. WWW'08) prune a candidate before the
    O(|A|+|B|) array_intersect ever runs — the reason verification scales
    with the SURVIVING pair count, not the raw LSH candidate count:

    - LENGTH filter: Jaccard is maximized at |A∩B| = min(|A|,|B|), so
      jac ≥ t requires (1 + 1/t)·min ≥ |A|+|B| (3·min at t = 0.5). Two
      double compares.
    - POSITIONAL PREFIX filter: jac ≥ t forces |A∩B| ≥ ⌈t·|A|⌉ (and
      symmetrically ⌈t·|B|⌉ — from I ≥ t(a+b−I) and I ≤ min(a,b)).
      Sort both token sets under one global order (int64 ascending) and
      take each doc's prefix of length n − ⌈t·n⌉ + 1: the SMALLEST common
      element must fall inside BOTH prefixes (were it past A's prefix,
      all common elements would sit among A's last ⌈t·n⌉ − 1 slots —
      fewer than the required overlap). ``arrays_overlap`` on the two
      half-length prefixes (hash-probe, short-circuits on first hit) then
      gates the full intersect. Honest round-4 measurement on the
      SYNTHETIC corpus: the sf0.1 documents table has a 31-word
      vocabulary, so every doc's smallest-hash tokens are corpus-
      universal, prefixes always overlap, and the filter prunes ~13 of
      6.56M pairs while costing ~0.4 s (~11% of the verify stage) —
      i.e. HERE it is a small net cost, kept because it is lossless
      (property-tested) and because on any real corpus (vocab ≫ prefix
      length — the 100 TB regime this engine targets) prefix filtering
      is what lets verification scale with the surviving-pair count
      rather than the raw LSH candidate count (Xiao et al. WWW'08
      measure order-of-magnitude candidate cuts). An earlier round
      attributed a ~2× incremental-dedup speedup to this filter; that
      measurement predated the back-to-back steady protocol in bench.py
      and is superseded — the corpus cannot support such a gain."""
    if cand_ids is None:
        # fallback for callers without a band table (tests/tools hand
        # in synthetic pair streams): derive the candidate-doc set from
        # the pair stream itself. Production callers pass the
        # band-derived set (_band_candidate_ids) so this |pairs|-sized
        # union+distinct never runs on the hot path.
        cand_ids = (
            cand.select(F.col(left).alias("doc_id"))
            .union(cand.select(F.col(right).alias("doc_id")))
            .distinct()
        )
    # Required overlap is ⌈t·n⌉ in REAL arithmetic; the double product can
    # land an ulp above an exact integer (0.55·20 → 11.000000000000002,
    # ceil 12) which would shorten the prefix by one and break losslessness.
    # Subtracting 1e-9 before ceil absorbs that: thresholds are short
    # decimals (k/10^d, d ≤ 6), so a truly non-integer t·n sits ≥ 1e-6 away
    # from any integer and cannot be pulled under it (ADVICE round 3;
    # boundary pinned with exact-rational references in
    # tests/test_properties.py::test_prefix_filter_lossless).
    pref_len = (
        F.size("toks")
        - F.ceil(F.lit(threshold) * F.size("toks") - F.lit(1e-9))
        + 1
    ).cast("int")
    # NB: a "staged" variant (join only (n_tok, pref) first, fetch full
    # arrays for prefilter survivors) measured NEUTRAL at sf0.1 — the
    # joins+filters+intersect fuse into one codegen stage, whose generated
    # code only dereferences the array columns for rows that reach the
    # intersect, so the single-stage form below never pays the per-pair
    # array copy the staging would save. Keep the simpler plan.
    # checkpointed: BOTH join sides (ta, tb) broadcast from this frame —
    # uncached, each side re-tokenized the candidate docs from parquet
    tok_arrays = _ckpt(
        docs.join(cand_ids, "doc_id", "left_semi")
        .select(
            "doc_id",
            F.array_sort(
                F.transform(
                    F.array_distinct(F.split("text", " ")),
                    lambda t: F.xxhash64(t),
                )
            ).alias("toks"),
        )
        .withColumn("n_tok", F.size("toks").cast("double"))
        .withColumn("pref", F.slice("toks", F.lit(1), pref_len))
    )
    ta = tok_arrays.select(
        F.col("doc_id").alias(left),
        F.col("toks").alias("a_toks"),
        F.col("n_tok").alias("a_n"),
        F.col("pref").alias("a_pref"),
    )
    tb = tok_arrays.select(
        F.col("doc_id").alias(right),
        F.col("toks").alias("b_toks"),
        F.col("n_tok").alias("b_n"),
        F.col("pref").alias("b_pref"),
    )
    n_inter = F.size(F.array_intersect("a_toks", "b_toks")).cast("double")
    jac = F.col("n_inter") / (F.col("a_n") + F.col("b_n") - F.col("n_inter"))
    explicit_cap = (
        broadcast_cap_b is not None
        or os.environ.get("SPARK_GRAFT_VERIFY_BCAST_CAP_B")
    )
    if is_audit_mode() and not explicit_cap:
        # plan-audit contract: nothing may execute during an audit walk
        # (tools/scale_audit.py, the plan-shape tests) — skip the size
        # probe and take the documented default regime (broadcast), the
        # same pattern as ann.py's edge-cap count under audit mode. An
        # EXPLICIT cap (arg or env) still probes: the shuffle/memory
        # audit tools execute their queries anyway and use the override
        # to measure the non-default regimes.
        fits, _est = True, None
    else:
        fits, _est = _verify_arrays_fit_broadcast(
            tok_arrays, _resolve_verify_cap(broadcast_cap_b)
        )
    # measurement seam (VERDICT r7 #6): the gate's last decision, readable
    # by tests/test_overcap_gate.py and tools/overcap_probe.py — the
    # evidence that fits=False can trip NATURALLY (no env knob, no conf
    # override) on an over-cap corpus is this record plus the plan shape.
    _LAST_VERIFY_GATE.clear()
    _LAST_VERIFY_GATE.update(
        {
            "fits": fits,
            "est_b": _est,
            "cap_b": _resolve_verify_cap(broadcast_cap_b),
            "audit_skip": is_audit_mode() and not explicit_cap,
            "explicit_cap": bool(explicit_cap),
        }
    )
    hint = F.broadcast if fits else (lambda df: df)
    return (
        cand.join(hint(ta), left)
        .join(hint(tb), right)
        .filter(
            # keep iff J_max = m/(a+b−m) ≥ t ⟺ a+b ≤ m·(1+1/t). The FP
            # product can land an ulp BELOW an exact-integer boundary
            # ((1+1/0.75)·3 → 6.999…99 < 7, dropping a J = t pair), so add
            # the same 1e-9 absorber as pref_len: for short-decimal
            # thresholds (k/10^d, d ≤ 6) a genuinely failing pair sits
            # ≥ 1/k ≥ 1e-6 past the boundary and cannot be pulled in.
            (1.0 + 1.0 / threshold) * F.least("a_n", "b_n") + F.lit(1e-9)
            >= F.col("a_n") + F.col("b_n")
        )
        .filter(F.arrays_overlap("a_pref", "b_pref"))
        .select(left, right, "a_n", "b_n", n_inter.alias("n_inter"))
        .filter(jac >= threshold)
        .select(left, right, jac.alias("jac"))
    )


def _neardup_pairs_plan(spark, sf_dir):
    cand = _cand_pairs(spark, sf_dir)
    verified = _verified_jaccard(
        T(spark, sf_dir, "documents"), cand, "doc_a", "doc_b",
        cand_ids=_band_candidate_ids(_bands(spark, sf_dir, by_doc=True)),
    )
    return (
        verified.select("doc_a", "doc_b", r6(F.col("jac")).alias("jaccard"))
        .orderBy(F.desc("jaccard"), "doc_a", "doc_b")
        .limit(1000)
    )


# the near-dup oracle SQL (just registered above), reused verbatim as the
# edge-list CTE of the q_graph_components oracle
from mapreduce_machine_learning_spark.registry import _ORACLES as _registered_oracles  # noqa: E402

_QUERIES_NEARDUP_SQL = _registered_oracles["q_llm_neardup_pairs"]


_BLOCK_CAP = 256  # max vectors per BLAS sub-block (bounds task memory)


def _make_score_kernel(min_cos, per_group_top=None):
    """The `_blocked_cosine_pairs` group kernel (`applyInPandas`, schema
    blk long, ia long, ib long, cos double): one chunk pair's gram matrix,
    cut to round-6 cos > min_cos and, with ``per_group_top``, to the
    group's top-k. Built as a closure so Spark ships it by value, with
    `np_r6` (which `determinism` builds to ship by value too), and the
    Python workers never import this package."""

    def score(pdf):
        worker_prelude()
        import numpy as np
        import pandas as pd

        A = pdf[pdf["side"] == 0]
        MA = np.stack(A["vec"].to_numpy()).astype("float64")
        na = np.sqrt((MA * MA).sum(axis=1))
        B = pdf[pdf["side"] == 1]
        if len(B):
            MB = np.stack(B["vec"].to_numpy()).astype("float64")
            nb = np.sqrt((MB * MB).sum(axis=1))
            C = (MA @ MB.T) / np.outer(na, nb)
            # threshold on the ROUND-6 cosine, like every other similarity
            # cut in this engine: the oracles compare ROUND(cos, 6) too, so
            # an ulp-level BLAS-vs-DuckDB difference at the boundary cannot
            # flip pair membership (ADVICE round 2). np_r6 rounds half away
            # from zero to match F.round/DuckDB ROUND — np.round's
            # half-to-even would diverge on exact midpoints (ADVICE round 3)
            ii, jj = np.nonzero(np_r6(C) > min_cos)
            ia = A["vid"].to_numpy()[ii]
            ib = B["vid"].to_numpy()[jj]
            cos = C[ii, jj]
        else:
            C = (MA @ MA.T) / np.outer(na, na)
            iu, ju = np.triu_indices(len(MA), k=1)
            keep = np_r6(C[iu, ju]) > min_cos
            ia = A["vid"].to_numpy()[iu[keep]]
            ib = A["vid"].to_numpy()[ju[keep]]
            cos = C[iu, ju][keep]
        lo, hi = np.minimum(ia, ib), np.maximum(ia, ib)
        if per_group_top is not None and len(lo) > per_group_top:
            # top-k under (r6(cos) DESC, ia, ib) — the SAME total order the
            # global consumer sorts by, which is what makes the per-group
            # cut lossless (`_blocked_cosine_pairs`); np.lexsort keys
            # are listed last-key-primary
            sel = np.lexsort((hi, lo, -np_r6(cos)))[:per_group_top]
            lo, hi, cos = lo[sel], hi[sel], cos[sel]
        return pd.DataFrame(
            {
                "blk": np.full(len(lo), pdf["blk"].iloc[0], dtype="int64"),
                "ia": lo,
                "ib": hi,
                "cos": cos,
            }
        )

    return score


def _blocked_cosine_pairs(df, min_cos, cap=_BLOCK_CAP, per_group_top=None):
    """Within-block cosine pairs (blk, ia, ib, cos) with round-6 cos >
    min_cos, scored as CHUNK-PAIR gram matrices so task memory is bounded.

    ``per_group_top=k`` additionally caps each chunk-pair GROUP's output at
    its top-k pairs under the total order (round-6 cos DESC, ia, ib) — the
    lossless reduction for a global top-k consumer: every unordered pair
    lands in exactly one group per block it shares, and a pair in the
    GLOBAL top-k has fewer than k pairs above it globally, hence fewer
    than k above it in any one group (the group order is a restriction of
    the same total order), so it survives every group cut. The consumer
    re-sorts the ≤ k·n_groups survivors and takes its global k; only
    k rows per group ever cross Arrow back to the JVM instead of the full
    candidate stream (optimization r13, q_llm_ann_pairs).

    Input: (blk, vid, vec). Each block is split into ⌈n/cap⌉ chunks
    (xxhash64(vid) mod nchunks — deterministic, derived in-plan from the
    block count; hashing first means chunk sizes stay balanced even when
    vids are strided or clustered, where a raw vid mod would collapse a
    whole block into one chunk and re-create the hot-task layout);
    every chunk pair (ci ≤ cj) becomes one applyInPandas group holding at
    most 2·cap vectors, scored as one float64 BLAS matmul (MA·MBᵀ, or the
    upper triangle of MA·MAᵀ when ci == cj). Every unordered pair lands in
    exactly one group — its own chunk pair — so no dedup step is needed.

    This replaces the round-1 one-group-per-label layout whose hot block
    put a whole label's matrix in a single Python worker (VERDICT round 1,
    "Next round" #6): rows are replicated nchunks times (block-matrix
    multiply), memory per task is O(cap·dim), and the n² flops spread over
    nchunks² tasks. The min_cos prefilter runs inside numpy so only
    qualifying pairs cross Arrow back to the JVM."""
    w = Window.partitionBy("blk")
    nchunks = F.greatest(
        F.lit(1), F.ceil(F.count(F.lit(1)).over(w) / F.lit(cap))
    )
    # consumed by the chunk list (twice, via its self-join) and both
    # assignment sides — uncached, all five consumers re-scanned the
    # vector table from parquet (q_llm_sim_threshold_ivf measured 18
    # embeddings scans at round 4; at 100 TB the vector table is the
    # thing you scan ONCE)
    chunked = _ckpt(
        df.select(
            "blk",
            "vid",
            "vec",
            F.pmod(F.xxhash64(F.col("vid")), nchunks).alias("chunk"),
        )
    )
    cl = chunked.select("blk", "chunk").distinct()
    cp = (
        cl.alias("x")
        .join(
            cl.alias("y"),
            (F.col("x.blk") == F.col("y.blk"))
            & (F.col("x.chunk") <= F.col("y.chunk")),
        )
        .select(
            F.col("x.blk").alias("pblk"),
            F.col("x.chunk").alias("ci"),
            F.col("y.chunk").alias("cj"),
        )
    )
    asg_a = (
        chunked.alias("r")
        .join(
            cp.alias("p"),
            (F.col("r.blk") == F.col("p.pblk"))
            & (F.col("r.chunk") == F.col("p.ci")),
        )
        .select(
            F.col("p.pblk").alias("blk"),
            F.col("p.ci").alias("ci"),
            F.col("p.cj").alias("cj"),
            F.lit(0).alias("side"),
            F.col("r.vid").alias("vid"),
            F.col("r.vec").alias("vec"),
        )
    )
    asg_b = (
        chunked.alias("r")
        .join(
            cp.alias("p"),
            (F.col("r.blk") == F.col("p.pblk"))
            & (F.col("r.chunk") == F.col("p.cj"))
            & (F.col("p.ci") != F.col("p.cj")),
        )
        .select(
            F.col("p.pblk").alias("blk"),
            F.col("p.ci").alias("ci"),
            F.col("p.cj").alias("cj"),
            F.lit(1).alias("side"),
            F.col("r.vid").alias("vid"),
            F.col("r.vec").alias("vec"),
        )
    )

    return (
        asg_a.unionByName(asg_b)
        .groupBy("blk", "ci", "cj")
        .applyInPandas(
            _make_score_kernel(min_cos, per_group_top),
            schema="blk long, ia long, ib long, cos double",
        )
    )


@query(
    "q_llm_sim_threshold",
    oracle="""
    WITH pairs AS (
        SELECT a.label AS label, a.vec_id AS ia, b.vec_id AS ib,
               UNNEST(a.embedding) AS x, UNNEST(b.embedding) AS y
        FROM embeddings a
        JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
    ),
    sims AS (
        SELECT label, ia, ib,
               SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
                   / (SQRT(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
                      * SQRT(SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))) AS cos
        FROM pairs GROUP BY label, ia, ib
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS pairs,
           ROUND(MAX(cos), 6) AS max_sim
    FROM sims
    WHERE ROUND(cos, 6) > 0.3
    GROUP BY label
    """,
)
def q_llm_sim_threshold(spark, sf_dir):
    """All-pairs cosine above a threshold, blocked by label (the blocking
    keeps it ~10×n² instead of (10n)² — same pattern as LSH banding). The
    contract threshold is 0.3, not the 0.9 SURVEY §2.8's table originally
    wrote: the synthetic embeddings are not label-clustered (max
    within-label cosine ≈ 0.47), so 0.9 selects nothing — recorded as the
    round-6 erratum under the §2.8 table (SURVEY.md), which also notes 0.9
    stays the right default for real clustered embedding corpora; the
    threshold is a parameter here, not plan structure. 100 TB path:
    replace the label block with LSH/IVF buckets — implemented as
    q_llm_dedup_semantic_ann (operators/ann.py)."""
    # Label blocks scored as CHUNK-PAIR gram matrices (BLAS inside Arrow
    # applyInPandas, task memory capped at 2·256 vectors — see
    # _blocked_cosine_pairs): the n² cosines still cost matmuls, but a hot
    # label now spreads over nchunks² tasks instead of OOMing one Python
    # worker. The final rounding stays Spark-side so the r6 contract is
    # uniform.
    pairs = _blocked_cosine_pairs(
        T(spark, sf_dir, "embeddings").select(
            F.col("label").alias("blk"),
            F.col("vec_id").alias("vid"),
            F.col("embedding").alias("vec"),
        ),
        min_cos=0.3,
    )
    return (
        pairs.groupBy("blk")
        .agg(
            F.count(F.lit(1)).alias("pairs"),
            F.max("cos").alias("max_sim"),
        )
        .select(
            F.col("blk").alias("label"),
            "pairs",
            r6(F.col("max_sim")).alias("max_sim"),
        )
    )


@query(
    "q_llm_tfidf",
    oracle="""
    WITH tf AS (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS term
        FROM documents
    ),
    tfc AS (
        SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
        FROM tf GROUP BY doc_id, term
    ),
    df AS (
        SELECT term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df
        FROM tf GROUP BY term
    ),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
    scored AS (
        SELECT t.doc_id, t.term, t.tf * LN(n.n_docs / d.df) AS score
        FROM tfc t JOIN df d ON t.term = d.term CROSS JOIN n
        WHERE t.doc_id BETWEEN 0 AND 9
    ),
    ranked AS (
        SELECT doc_id, term, score,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY doc_id ORDER BY score DESC, term) AS BIGINT)
                   AS rnk
        FROM scored
    )
    SELECT doc_id, term, ROUND(score, 6) AS score, rnk
    FROM ranked WHERE rnk <= 3
    """,
)
def q_llm_tfidf(spark, sf_dir):
    """TF-IDF (tf · ln(N/df), natural log) with top-3 terms for docs 0–9,
    totally ordered (score DESC, term ASC). The FILTERED tf slice (10 docs
    by construction) broadcasts to the vocabulary-sized df table — the
    vocabulary grows with the corpus, the doc slice never does; mirrors
    MLlib's HashingTF/IDF pipeline (ml_iterative has the MLlib variant,
    rows-only)."""
    docs = T(spark, sf_dir, "documents")
    tf_rows = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    tfc = (
        tf_rows.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    df = tf_rows.groupBy("term").agg(
        F.countDistinct("doc_id").cast("double").alias("df")
    )
    n_docs = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    # broadcast the FILTERED tf side (10 docs by construction), not the
    # vocabulary df table (round 7): vocabulary grows with the corpus
    # (Heaps' law) and is the join's big side at 100 TB; the 10-doc tf
    # slice is the structurally small one.
    scored = (
        df.join(
            F.broadcast(tfc.filter(F.col("doc_id").between(0, 9))), "term"
        )
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            (F.col("tf") * F.log(F.col("n_docs") / F.col("df"))).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", r6(F.col("score")).alias("score"), "rnk")
    )


@query(
    "q_llm_textstats",
    oracle="""
    WITH base AS (
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS docs,
               ROUND(AVG(n_chars), 6) AS avg_chars,
               ROUND(AVG(len(string_split(text, ' '))), 6) AS avg_tokens
        FROM documents GROUP BY lang
    ),
    vocab AS (
        SELECT lang, CAST(COUNT(DISTINCT token) AS BIGINT) AS vocabulary
        FROM (SELECT lang, UNNEST(string_split(text, ' ')) AS token
              FROM documents)
        GROUP BY lang
    )
    SELECT b.lang, b.docs, b.avg_chars, b.avg_tokens, v.vocabulary
    FROM base b JOIN vocab v ON b.lang = v.lang
    """,
)
def q_llm_textstats(spark, sf_dir):
    """Per-language corpus statistics: doc count, avg chars, avg token count,
    vocabulary size. Two independent aggregations (per-doc and exploded)
    joined on the 5-row language key."""
    docs = T(spark, sf_dir, "documents")
    base = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("docs"),
        r6(F.avg("n_chars")).alias("avg_chars"),
        r6(F.avg(F.size(F.split("text", " ")))).alias("avg_tokens"),
    )
    vocab = (
        docs.select("lang", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("lang")
        .agg(F.countDistinct("token").alias("vocabulary"))
    )
    return base.join(vocab, "lang")


@query(
    "q_llm_multimodal",
    oracle="""
    SELECT d.lang, e.label,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           ROUND(AVG(SQRT((SELECT SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
                           FROM UNNEST(e.embedding) AS t(x)))), 6) AS avg_l2
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    GROUP BY d.lang, e.label
    """,
)
def q_llm_multimodal(spark, sf_dir):
    """Multimodal join: text metadata ⋈ vector table (1:1 on doc_id=vec_id at
    t2 scale), grouped stats over both modalities — per (lang, label): count
    and mean embedding L2 norm. The vector math runs as JVM higher-order
    array functions, no Python. Binary media columns would ride the same
    pattern (opaque binary + typed metadata; see sources/multimodal.py)."""
    d = T(spark, sf_dir, "documents")
    e = T(spark, sf_dir, "embeddings")
    return (
        d.join(e, d.doc_id == e.vec_id)
        .select("lang", "label", l2norm("embedding").alias("l2"))
        .groupBy("lang", "label")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            r6(F.avg("l2")).alias("avg_l2"),
        )
    )


# §2.8 also lists q_llm_knn — the same operator as q_ml_knn (declared once
# there, aliased here so the §2.8 inventory is complete under its own key).
def _register_llm_knn() -> None:
    from mapreduce_machine_learning_spark.operators.ml import q_ml_knn
    from mapreduce_machine_learning_spark.registry import _ORACLES, _QUERIES

    if "q_llm_knn" not in _QUERIES:
        _QUERIES["q_llm_knn"] = q_ml_knn
        _ORACLES["q_llm_knn"] = _ORACLES["q_ml_knn"]


_register_llm_knn()


@query(
    "q_graph_components",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_QUERIES_NEARDUP_SQL}),
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs
        UNION SELECT doc_a, doc_a FROM pairs
        UNION SELECT doc_b, doc_b FROM pairs
    ),
    reach(src, dst) AS (
        SELECT u, v FROM edges
        UNION
        SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u
    ),
    comp AS (SELECT src AS node, MIN(dst) AS comp FROM reach GROUP BY src),
    sizes AS (
        SELECT comp, CAST(COUNT(*) AS BIGINT) AS component_size
        FROM comp GROUP BY comp
    )
    SELECT component_size, CAST(COUNT(*) AS BIGINT) AS num_components
    FROM sizes GROUP BY component_size
    """,
)
def q_graph_components(spark, sf_dir):
    """Near-duplicate components: fold the verified near-dup pairs into
    connected components (the survivor-selection step real dedup pipelines
    run after pair generation) and report the component-size histogram.
    Spark side: iterative minimum-label propagation over cached/checkpointed
    DataFrames (functions.graph) — the same driver-loop shape as the ML
    algorithms; oracle side: a recursive transitive-closure CTE. Two very
    different execution strategies, identical fixpoint."""
    comps = _components(spark, sf_dir)
    sizes = comps.groupBy("comp").agg(
        F.count(F.lit(1)).alias("component_size")
    )
    return sizes.groupBy("component_size").agg(
        F.count(F.lit(1)).alias("num_components")
    )


def _components(spark, sf_dir):
    """(node, comp) labels over the verified near-dup pairs, materialized
    once per session — consumed by both the size histogram and the survivor
    selection."""

    def build():
        from mapreduce_machine_learning_spark.functions.graph import (
            connected_components,
        )

        pairs = _neardup_pairs(spark, sf_dir).select("doc_a", "doc_b")
        # the pair list is top-1000-capped by construction → broadcastable
        return connected_components(pairs, small_graph=True)

    return _materialize(spark, sf_dir, "components", build)


@query(
    "q_llm_ngram_jaccard",
    oracle="""
    WITH sh AS (
        SELECT DISTINCT doc_id,
               UNNEST(list_transform(
                   range(1, len(toks) - 1),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                   AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS toks
              FROM documents WHERE doc_id < 60)
        WHERE len(toks) >= 3
    ),
    sizes AS (
        SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS n_sh
        FROM sh GROUP BY doc_id
    ),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS DOUBLE) AS n_inter
        FROM sh a JOIN sh b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT i.doc_a, i.doc_b,
           ROUND(i.n_inter / (sa.n_sh + sb.n_sh - i.n_inter), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE i.n_inter / (sa.n_sh + sb.n_sh - i.n_inter) >= 0.2
    ORDER BY ROUND(i.n_inter / (sa.n_sh + sb.n_sh - i.n_inter), 6) DESC,
             i.doc_a, i.doc_b
    LIMIT 500
    """,
)
def q_llm_ngram_jaccard(spark, sf_dir):
    """Word-trigram (shingle) Jaccard near-dup — the n-gram flavor of dedup,
    stricter than token-set Jaccard because shingles encode local word ORDER
    (two docs with the same vocabulary but shuffled sentences share tokens
    but few trigrams). Shingling is a pure JVM higher-order expression
    (transform over sequence — no explode-then-window shuffle, no Python).

    EXPLICIT BLOCK: exact all-pairs over the doc_id<60 block (~1.7k pairs) —
    the exact baseline twin; the scale path applies the same shingle sets
    through the MinHash/LSH banding of q_llm_minhash (signatures over
    shingles instead of tokens, identical plan shape)."""
    docs = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    toks = docs.withColumn("toks", F.split("text", " ")).filter(
        F.size("toks") >= 3
    )
    sh = (
        toks.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(toks) - 3), "
                    "i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))"
                )
            ).alias("shingle"),
        )
        .distinct()
        # materialized once: the shingle set feeds both self-join sides
        # and the per-doc sizes (three consumers, one derivation)
        .transform(_ckpt)
    )
    sizes = sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("double").alias("n_sh")
    )
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("n_inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("n_inter") / (
        F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("n_inter")
    )
    # NO broadcast hint on the per-doc size tables (round 7): `sizes` is
    # one row per document — corpus-sized at 100 TB, not structurally
    # small — so the join strategy is left to Catalyst/AQE stats: at
    # contract scale it picks broadcast on its own; at fleet scale it
    # degrades to a shuffle join instead of hitting the hint's ceiling.
    return (
        inter.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
        .filter(jac >= 0.2)
        .select("doc_a", "doc_b", r6(jac).alias("jaccard"))
        .orderBy(F.desc("jaccard"), "doc_a", "doc_b")
        .limit(500)
    )


@query(
    "q_llm_mixture",
    oracle="""
    WITH thresholds AS (
        SELECT lang, doc_id,
               CASE lang WHEN 'en' THEN '80000000'
                         WHEN 'zh' THEN 'g'
                         ELSE 'c0000000' END AS thr,
               substr(md5('mix|' || CAST(doc_id AS VARCHAR)), 1, 8) AS u
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS docs_in,
           CAST(SUM(CASE WHEN u < thr THEN 1 ELSE 0 END) AS BIGINT) AS sampled,
           ROUND(AVG(CASE WHEN u < thr THEN 1.0 ELSE 0.0 END), 6) AS rate
    FROM thresholds
    GROUP BY lang
    """,
)
def q_llm_mixture(spark, sf_dir):
    """Deterministic training-mixture sampling: keep a doc iff the first 8
    hex chars of md5('mix|' || doc_id) sort below a per-language threshold —
    en downsampled to 50%, zh kept at 100% ('g' upper-bounds every hex
    string), the rest at 75%. Fixed-width lowercase hex compares
    lexicographically as numerically, so the uniform draw needs no numeric
    conversion and is identical on any engine — the rand()-free way to
    reweight a 100 TB corpus reproducibly (resampling a shard gives the
    same selection)."""
    d = T(spark, sf_dir, "documents")
    thr = (
        F.when(F.col("lang") == "en", "80000000")
        .when(F.col("lang") == "zh", "g")
        .otherwise("c0000000")
    )
    u = F.substring(F.md5(F.concat(F.lit("mix|"), F.col("doc_id").cast("string"))), 1, 8)
    keep = (u < thr).cast("double")
    return d.select("lang", keep.alias("keep")).groupBy("lang").agg(
        F.count(F.lit(1)).alias("docs_in"),
        F.sum(F.col("keep").cast("bigint")).alias("sampled"),
        r6(F.avg("keep")).alias("rate"),
    )


@query(
    "q_llm_dedup_semantic",
    oracle="""
    WITH RECURSIVE pairs AS (
        SELECT a.label AS label, a.vec_id AS ia, b.vec_id AS ib,
               UNNEST(a.embedding) AS x, UNNEST(b.embedding) AS y
        FROM embeddings a
        JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
    ),
    sims AS (
        SELECT ia, ib,
               ROUND(SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
                   / (SQRT(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
                      * SQRT(SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))), 6)
                   AS cos
        FROM pairs GROUP BY ia, ib
    ),
    hits AS (SELECT ia, ib FROM sims WHERE cos > 0.4),
    edges AS (
        SELECT ia AS u, ib AS v FROM hits
        UNION SELECT ib, ia FROM hits
        UNION SELECT vec_id, vec_id FROM embeddings
    ),
    reach(src, dst) AS (
        SELECT u, v FROM edges
        UNION
        SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u
    ),
    comp AS (SELECT src AS node, MIN(dst) AS comp FROM reach GROUP BY src),
    labeled AS (
        SELECT e.label, c.comp
        FROM embeddings e JOIN comp c ON e.vec_id = c.node
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS vectors,
           CAST(COUNT(DISTINCT comp) AS BIGINT) AS survivors,
           CAST(COUNT(*) - COUNT(DISTINCT comp) AS BIGINT) AS dropped
    FROM labeled GROUP BY label
    """,
)
def q_llm_dedup_semantic(spark, sf_dir):
    """Semantic (embedding-cosine) dedup end-to-end: label-blocked pairs
    above cosine 0.4 become edges, connected components pick one survivor
    per duplicate cluster, singletons survive as their own component — per
    label: vector/survivor/dropped counts. The threshold compares
    ROUND(cos, 6) on both engines so edge membership can't flip on FP
    noise. This is the full shape of production semantic dedup: block
    (label here, ANN/IVF cells at 100 TB) → pairwise cosine inside blocks →
    components → survivor policy.

    Pair scoring runs as CHUNK-PAIR gram matrices (BLAS inside Arrow
    applyInPandas, task memory capped at 2·256 vectors — see
    _blocked_cosine_pairs), so a hot label spreads over nchunks² tasks
    instead of putting its whole matrix in one Python worker. Float64
    accumulation matches the oracle's element-cast-to-DOUBLE sum to
    ~1e-15, far below the round-6 threshold grid. Because edges exist only
    WITHIN a label by construction, components never cross labels — so
    union-find runs per label over the EDGE list (already thresholded:
    O(duplicate pairs), orders of magnitude below the scored pair count),
    and untouched vectors are singleton survivors by arithmetic
    (survivors = n − touched + components). No distributed iteration at
    all (replaces a 20-round label-propagation loop; measured ~5×
    faster). The generic cross-block path
    (functions.graph.connected_components) remains the tool for UNblocked
    edge lists (q_graph_components)."""
    from mapreduce_machine_learning_spark.operators.ann import (
        make_components_kernel,
    )

    edges = _blocked_cosine_pairs(
        T(spark, sf_dir, "embeddings").select(
            F.col("label").alias("blk"),
            F.col("vec_id").alias("vid"),
            F.col("embedding").alias("vec"),
        ),
        min_cos=0.39,  # round-6 prefilter; exact 0.4 threshold below
    ).filter(F.round("cos", 6) > 0.4)

    comp = edges.groupBy("blk").applyInPandas(
        make_components_kernel("ia", "ib", "label"),
        schema="label int, n_edges long, touched long, comps long",
    )
    counts = (
        T(spark, sf_dir, "embeddings")
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("vectors"))
    )
    touched = F.coalesce(F.col("touched"), F.lit(0))
    comps = F.coalesce(F.col("comps"), F.lit(0))
    return counts.join(F.broadcast(comp), "label", "left").select(
        "label",
        "vectors",
        (F.col("vectors") - touched + comps).alias("survivors"),
        (touched - comps).alias("dropped"),
    )


@query(
    "q_llm_chunks",
    oracle="""
    WITH d AS (
        SELECT lang, doc_id, len(string_split(text, ' ')) AS ntok
        FROM documents
    )
    SELECT lang,
           CAST(SUM((ntok + 31) // 32) AS BIGINT) AS n_chunks,
           CAST(SUM(ntok // 32) AS BIGINT) AS full_chunks,
           ROUND(SUM(ntok)::DOUBLE / SUM((ntok + 31) // 32), 6)
               AS avg_chunk_len
    FROM d GROUP BY lang
    """,
)
def q_llm_chunks(spark, sf_dir):
    """Document chunking for training pipelines: split each document into
    32-token chunks (`chunk_id = pos DIV 32` over posexplode'd tokens) and
    report per-language chunk counts, full-chunk counts, and mean chunk
    length. The Spark side materializes the real chunk rows — the shape a
    tokenize-and-pack pipeline feeds downstream — while the oracle uses the
    closed form (ceil(ntok/32) chunks per doc), pinning the explode path to
    arithmetic truth. The explode is a JVM generator (no UDF); the per-chunk
    count groups on (doc_id, chunk_id), which is perfectly spreadable — no
    skew since chunk keys are unique per doc."""
    toks = T(spark, sf_dir, "documents").select(
        "lang",
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "tok"),
    )
    chunks = toks.groupBy(
        "lang", "doc_id", F.expr("pos DIV 32").alias("chunk_id")
    ).agg(F.count(F.lit(1)).alias("chunk_len"))
    return chunks.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.count(F.when(F.col("chunk_len") == 32, 1)).alias("full_chunks"),
        r6(F.sum("chunk_len") / F.count(F.lit(1))).alias("avg_chunk_len"),
    )


@query(
    "q_llm_split",
    oracle="""
    WITH h AS (
        SELECT lang, n_chars,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % 100 AS bucket
        FROM documents
    )
    SELECT CASE WHEN bucket < 80 THEN 'train' ELSE 'test' END AS split,
           lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(CAST(n_chars AS DOUBLE)), 6) AS avg_chars
    FROM h GROUP BY split, lang
    """,
)
def q_llm_split(spark, sf_dir):
    """Deterministic 80/20 train/test split by keyed hash — md5(doc_id),
    first 8 hex digits mod 100 — the split every training pipeline needs to
    be REPRODUCIBLE across engines, reruns and data relayouts (a rand()
    split is none of those). Reported per (split, lang) with doc counts and
    mean length, i.e. the stratification audit that catches a skewed split.
    The hash is a pure projection (no shuffle added beyond the 2×lang-group
    agg); at 100 TB the same expression also drives WHERE-clause partition
    assignment for writing the two corpora out. md5 text parity between
    Spark and DuckDB is verified in SURVEY §8."""
    docs = T(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 100
    )
    return (
        docs.select(
            F.when(bucket < 80, "train").otherwise("test").alias("split"),
            "lang",
            "n_chars",
        )
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            r6(F.avg(F.col("n_chars").cast("double"))).alias("avg_chars"),
        )
    )


@query(
    "q_llm_unigram_logprob",
    oracle="""
    WITH tok AS (
        SELECT doc_id, source, UNNEST(string_split(text, ' ')) AS tok
        FROM documents
    ),
    v AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS cnt FROM tok GROUP BY tok),
    tot AS (SELECT SUM(cnt) AS total FROM v),
    doc AS (
        SELECT t.doc_id, t.source,
               SUM(LN(v.cnt / tot.total)) / COUNT(*) AS lp
        FROM tok t JOIN v USING (tok) CROSS JOIN tot
        GROUP BY t.doc_id, t.source
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(lp), 6) AS avg_logprob,
           ROUND(MIN(lp), 6) AS min_logprob,
           ROUND(MAX(lp), 6) AS max_logprob
    FROM doc GROUP BY source
    """,
)
def q_llm_unigram_logprob(spark, sf_dir):
    """Unigram-LM quality scoring — the KenLM-shaped perplexity filter in
    its simplest exact form: fit p(tok) = freq/total on the corpus itself,
    score each document by its mean token log-probability, roll up per
    source. Two aggregations and one join: vocab build (tok→count), then
    counts joined back onto the exploded token stream. The vocab is
    BROADCAST here (this corpus shares one small vocabulary); at 100 TB the
    frequency table gets heavy-hitter truncation (top-M tokens + an OOV
    floor) precisely so it stays broadcastable — rare-token mass, not the
    join strategy, is the accuracy knob. Per-doc means are O(-10) with
    ~1e-14 summation noise: round-6 safe."""
    tok = T(spark, sf_dir, "documents").select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("tok")
    )
    v = tok.groupBy("tok").agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    tot = v.agg(F.sum("cnt").alias("total"))
    doc = (
        tok.join(F.broadcast(v), "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id", "source")
        .agg(
            (
                F.sum(F.log(F.col("cnt") / F.col("total")))
                / F.count(F.lit(1))
            ).alias("lp")
        )
    )
    return doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        r6(F.avg("lp")).alias("avg_logprob"),
        r6(F.min("lp")).alias("min_logprob"),
        r6(F.max("lp")).alias("max_logprob"),
    )


@query(
    "q_llm_packing",
    oracle="""
    WITH d AS (
        SELECT doc_id, len(string_split(text, ' ')) AS ntok FROM documents
    ),
    c AS (
        SELECT doc_id, ntok,
               SUM(ntok) OVER (ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) AS cum
        FROM d
    ),
    span AS (
        SELECT ntok,
               (cum - ntok) // 2048 AS first_pack,
               (cum - 1) // 2048 AS last_pack
        FROM c
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ntok) AS BIGINT) AS total_tokens,
           CAST((SUM(ntok) + 2047) // 2048 AS BIGINT) AS n_packs,
           CAST(SUM(CASE WHEN last_pack > first_pack THEN 1 ELSE 0 END)
                AS BIGINT) AS n_straddlers,
           ROUND(AVG(CAST(last_pack - first_pack + 1 AS DOUBLE)), 6)
               AS avg_packs_per_doc
    FROM span
    """,
)
def q_llm_packing(spark, sf_dir):
    """Sequence packing audit — pretraining concatenates the token stream
    and cuts every 2048 tokens; this computes, per document, which packs it
    lands in (first/last pack from the running token offset) and reports
    pack count, boundary-straddling docs, and mean packs per doc. The
    running sum is a window over ONE global ordering (doc_id), which is a
    single-partition window — correct for the semantics, hostile at 100 TB;
    the scale path packs within hash shards (window PARTITION BY shard) and
    offsets each shard by a precomputed per-shard total (two tiny passes),
    which this operator's arithmetic transfers to unchanged. Everything is
    integer until the final ratio: no FP risk."""
    from pyspark.sql import Window

    d = T(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("ntok")
    )
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    c = d.withColumn("cum", F.sum("ntok").over(w))
    span = c.select(
        "ntok",
        F.expr("(cum - ntok) DIV 2048").alias("first_pack"),
        F.expr("(cum - 1) DIV 2048").alias("last_pack"),
    )
    return span.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ntok").alias("total_tokens"),
        F.expr("(SUM(ntok) + 2047) DIV 2048").alias("n_packs"),
        F.sum(
            F.when(F.col("last_pack") > F.col("first_pack"), 1).otherwise(0)
        ).alias("n_straddlers"),
        r6(
            F.avg((F.col("last_pack") - F.col("first_pack") + 1).cast("double"))
        ).alias("avg_packs_per_doc"),
    )


def _quality_sql_cte() -> str:
    from mapreduce_machine_learning_spark.operators.text_analysis import (
        STOPWORDS,
        _sql_list,
    )

    return f"""
    q AS (
        SELECT lang, doc_id,
               CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
               CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                   AS n_dist,
               CAST(len(list_intersect(list_distinct(string_split(text, ' ')),
                                       {_sql_list(STOPWORDS)})) AS DOUBLE)
                   AS n_stop,
               CAST(n_chars AS DOUBLE) AS nc
        FROM documents
    ),
    s AS (
        SELECT lang, doc_id,
               0.4 * (n_dist / n_tok)
             + 0.3 * (1.0 - n_stop / n_dist)
             + 0.3 * LEAST(((nc - (n_tok - 1)) / n_tok) / 8.0, 1.0) AS score,
               CAST(('0x' || substr(md5('qs|' || CAST(doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) / 4294967296.0 AS u
        FROM q
    )"""


@query(
    "q_llm_qsample",
    oracle=f"""
    WITH {_quality_sql_cte()}
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS docs_in,
           CAST(SUM(CASE WHEN u < score THEN 1 ELSE 0 END) AS BIGINT)
               AS sampled,
           ROUND(AVG(CASE WHEN u < score THEN score END), 6)
               AS avg_kept_score,
           ROUND(AVG(CASE WHEN u < score THEN 1.0 ELSE 0.0 END), 6) AS rate
    FROM s GROUP BY lang
    """,
)
def q_llm_qsample(spark, sf_dir):
    """Quality-weighted Bernoulli sampling — keep each document with
    probability equal to its quality score (the q_text_quality features),
    using a KEYED-HASH uniform u = md5('qs|'||doc_id)/2³² instead of
    rand(): the sample is reproducible across engines, reruns, retries and
    repartitions, which rand() can never be (a failed task would resample
    on retry). Per language: input/kept counts, mean kept score, effective
    rate. Pure map + one small agg — the decision column also serves as
    the write-side partition filter at 100 TB. Both engines evaluate the
    identical score and u expressions on exact-integer inputs, so the
    u < score boundary is bitwise-reproducible."""
    from mapreduce_machine_learning_spark.operators.text_analysis import (
        STOPWORDS,
    )

    d = T(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tok = F.size(toks).cast("double")
    n_dist = F.size(F.array_distinct(toks)).cast("double")
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(toks), F.array(*[F.lit(w) for w in STOPWORDS])
        )
    ).cast("double")
    avg_tok_len = (F.col("n_chars").cast("double") - (n_tok - 1)) / n_tok
    score = (
        0.4 * (n_dist / n_tok)
        + 0.3 * (1.0 - n_stop / n_dist)
        + 0.3 * F.least(avg_tok_len / 8.0, F.lit(1.0))
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("qs|"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        / 4294967296.0
    )
    kept = F.col("u") < F.col("score")
    return (
        d.select("lang", score.alias("score"), u.alias("u"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("docs_in"),
            F.sum(F.when(kept, 1).otherwise(0)).alias("sampled"),
            r6(F.avg(F.when(kept, F.col("score")))).alias("avg_kept_score"),
            r6(F.avg(F.when(kept, 1.0).otherwise(0.0))).alias("rate"),
        )
    )


@query(
    "q_llm_mixweights",
    oracle="""
    WITH t AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS docs,
               CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) AS toks
        FROM documents GROUP BY source
    )
    SELECT source, docs,
           CAST(toks AS BIGINT) AS tokens,
           ROUND(toks / SUM(toks) OVER (), 6) AS token_share,
           ROUND((CAST(1.0 AS DOUBLE) / 20) / (toks / SUM(toks) OVER ()), 6)
               AS weight,
           ROUND(LEAST((CAST(1.0 AS DOUBLE) / 20)
                       / (toks / SUM(toks) OVER ()),
                       CAST(4.0 AS DOUBLE)), 6) AS repeat_factor
    FROM t
    """,
)
def q_llm_mixweights(spark, sf_dir):
    """Domain-mixture reweighting — the pass that turns measured corpus
    composition into per-source sampling weights: census each source's
    TOKEN share (docs alone mislead when lengths differ), target a uniform
    1/20 token mixture, weight = target/actual, and cap the upsampling
    repeat factor at 4 epochs (unbounded repetition of a small source
    degrades models faster than under-representing it). One groupBy to 20
    rows plus an unpartitioned window over those 20 — the window is on the
    post-aggregation side, so the global exchange moves 20 rows regardless
    of corpus size."""
    from pyspark.sql import Window

    t = (
        T(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum(F.size(F.split("text", " ")))
            .cast("double")
            .alias("toks"),
        )
    )
    total = F.sum("toks").over(Window.partitionBy())
    share = F.col("toks") / total
    weight = (1.0 / 20) / share
    return t.select(
        "source",
        "docs",
        F.col("toks").cast("bigint").alias("tokens"),
        r6(share).alias("token_share"),
        r6(weight).alias("weight"),
        r6(F.least(weight, F.lit(4.0))).alias("repeat_factor"),
    )


@query(
    "q_llm_dedup_survivors",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_QUERIES_NEARDUP_SQL}),
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs
        UNION SELECT doc_a, doc_a FROM pairs
        UNION SELECT doc_b, doc_b FROM pairs
    ),
    reach(src, dst) AS (
        SELECT u, v FROM edges
        UNION
        SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u
    ),
    comp AS (SELECT src AS node, MIN(dst) AS comp FROM reach GROUP BY src),
    dropped AS (SELECT node FROM comp WHERE node <> comp)
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS docs,
           CAST(SUM(CASE WHEN dr.node IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS survivors,
           CAST(SUM(CASE WHEN dr.node IS NULL THEN 0 ELSE 1 END) AS BIGINT)
               AS dropped
    FROM documents d LEFT JOIN dropped dr ON d.doc_id = dr.node
    GROUP BY d.lang
    """,
)
def q_llm_dedup_survivors(spark, sf_dir):
    """Survivor SELECTION — the step after q_graph_components that real
    dedup pipelines actually ship: fold verified near-dup pairs into
    components (functions.graph), keep the minimum doc_id per component,
    pass every unpaired document through, and report per-language
    docs/survivors/dropped. The exclusion join runs against the DROPPED id
    set — bounded by the pair cap, hence broadcastable at any corpus size
    (the survivor set is corpus-sized and must never be the join's build
    side). Oracle: recursive closure CTE + LEFT JOIN against the dropped
    nodes."""
    comps = _components(spark, sf_dir)
    dropped = (
        comps.filter(F.col("node") != F.col("comp"))
        .select(F.col("node").alias("doc_id"))
        .withColumn("is_dropped", F.lit(1))
    )
    docs = T(spark, sf_dir, "documents").select("doc_id", "lang")
    return (
        docs.join(F.broadcast(dropped), "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum(F.when(F.col("is_dropped").isNull(), 1).otherwise(0)).alias(
                "survivors"
            ),
            F.sum(
                F.when(F.col("is_dropped").isNotNull(), 1).otherwise(0)
            ).alias("dropped"),
        )
    )


@query(
    "q_llm_sample_stratified",
    oracle="""
    WITH s AS (
        SELECT lang,
               CASE lang WHEN 'de' THEN '20' WHEN 'en' THEN '10'
                         WHEN 'es' THEN '40' WHEN 'fr' THEN '80'
                         ELSE 'c0' END AS thr,
               md5(text) AS h
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN h < thr THEN 1 ELSE 0 END) AS BIGINT)
               AS n_sampled,
           ROUND(SUM(CASE WHEN h < thr THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS observed_rate
    FROM s GROUP BY lang
    """,
)
def q_llm_sample_stratified(spark, sf_dir):
    """Deterministic stratified sampling — the mixture-rebalancing primitive
    of a pretraining pipeline: each language stratum gets its own target
    rate (de 1/8, en 1/16, es 1/4, fr 1/2, zh 3/4), applied by comparing
    the doc's md5 hex against the rate's hex-prefix threshold ('10' = 1/16
    of the hash space, 'c0' = 3/4, …). No rand(): membership is a pure
    function of content, so the sample is reproducible across engines,
    re-runs, AND retries of individual partitions — the property that makes
    hash-threshold sampling the only safe sampling at 100 TB (rand() +
    task retry silently changes the sample). Map-side CASE + one tiny
    aggregate; md5 parity is verified cross-engine (SURVEY §8.4)."""
    thr = (
        F.when(F.col("lang") == "de", "20")
        .when(F.col("lang") == "en", "10")
        .when(F.col("lang") == "es", "40")
        .when(F.col("lang") == "fr", "80")
        .otherwise("c0")
    )
    d = T(spark, sf_dir, "documents").select(
        "lang", thr.alias("thr"), F.md5("text").alias("h")
    )
    keep = F.when(F.col("h") < F.col("thr"), 1).otherwise(0)
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(keep).alias("n_sampled"),
        r6(F.sum(keep) / F.count(F.lit(1)).cast("double")).alias(
            "observed_rate"
        ),
    )


@query(
    "q_llm_pipeline_funnel",
    oracle="""
    WITH d AS (
        SELECT md5(text) AS h,
               len(list_distinct(string_split(text, ' ')))
                   / CAST(len(string_split(text, ' ')) AS DOUBLE) >= 0.5
                   AS ok_quality
        FROM documents
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN ok_quality THEN 1 ELSE 0 END) AS BIGINT)
               AS n_quality,
           CAST(COUNT(DISTINCT CASE WHEN ok_quality THEN h END) AS BIGINT)
               AS n_dedup,
           CAST(COUNT(DISTINCT CASE WHEN ok_quality AND h < '80'
                                    THEN h END) AS BIGINT) AS n_sampled
    FROM d
    """,
)
def q_llm_pipeline_funnel(spark, sf_dir):
    """The pretraining-corpus pipeline as ONE declarative plan — quality
    filter → exact dedup → hash sample, reported as a survivor funnel
    (the numbers a data-curation dashboard shows per snapshot). The whole
    funnel collapses into a single scan: quality is a per-row predicate
    (distinct-token ratio ≥ 0.5), dedup survivorship is COUNT(DISTINCT
    md5) over the quality-passing rows, and the 50% content-hash sample
    reuses the same md5 — three pipeline stages, one aggregation, no joins
    and no intermediate materialization. This is the payoff of declaring
    stages as column expressions instead of chained jobs: the reference
    would run three MapReduce passes; Catalyst fuses the funnel into one
    map-side-combined distinct-aggregate. All stages are exact integer
    counts over deterministic predicates (ratios of exact ints, md5
    thresholds)."""
    d = T(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    ok_q = (
        F.size(F.array_distinct(toks))
        / F.size(toks).cast("double")
        >= 0.5
    )
    frame = d.select(
        F.md5("text").alias("h"), ok_q.alias("ok_quality")
    )
    return frame.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(F.col("ok_quality"), 1).otherwise(0)).alias(
            "n_quality"
        ),
        F.countDistinct(
            F.when(F.col("ok_quality"), F.col("h"))
        ).alias("n_dedup"),
        F.countDistinct(
            F.when(F.col("ok_quality") & (F.col("h") < "80"), F.col("h"))
        ).alias("n_sampled"),
    )


@query(
    "q_llm_dup_ngrams",
    oracle="""
    WITH tok AS (
        SELECT doc_id, lang, string_split(text, ' ') AS toks
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id, lang,
               md5(array_to_string(toks[i:i+7], ' ')) AS shingle
        FROM tok,
             UNNEST(range(1, len(toks) - 6)) AS t(i)
    ),
    cnt AS (
        SELECT lang, shingle, COUNT(DISTINCT doc_id) AS nd
        FROM sh GROUP BY lang, shingle
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_shingles,
           ROUND(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS dup_share
    FROM cnt GROUP BY lang
    """,
)
def q_llm_dup_ngrams(spark, sf_dir):
    """Corpus-level n-gram duplication rate — the measurement that
    MOTIVATES the dedup family (Lee et al., "Deduplicating Training Data
    Makes Language Models Better", ACL 2022, measure duplication exactly
    this way): the share of distinct 8-token shingles per language that
    occur in more than one document. Shingles are md5'd at explode time so
    the shuffle moves 32-byte keys instead of raw 8-gram strings — at
    100 TB the shingle frame is the dominant intermediate and hashing
    first is the difference between shuffling ~60 bytes and ~32 per
    shingle with identical grouping semantics (md5 collisions are
    negligible at any corpus size). Two keyed aggregations: distinct
    (doc, shingle) then docs-per-shingle. All counts exact; the share is
    a round-6 ratio."""
    d = T(spark, sf_dir, "documents")
    # tokenize ONCE per row into a projected column: inlining the split
    # expression into the transform lambda re-tokenized the full text
    # once per shingle ELEMENT (no common-subexpression elimination
    # across lambda scopes — the q_text_novelty r13 finding), making
    # shingling O(tokens²) per doc
    toks = F.col("toks")
    sh = (
        d.select("doc_id", "lang", F.split("text", " ").alias("toks"))
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(0), F.size(toks) - 8
                    ),
                    lambda i: F.md5(
                        F.array_join(F.slice(toks, i + 1, 8), " ")
                    ),
                )
            ).alias("shingle"),
        )
        # one shingle-keyed exchange shared by the per-(doc, shingle)
        # dedup AND the docs-per-shingle count (guide §2.4): partitioning
        # by (lang, shingle) satisfies both aggregates' clustering, so
        # the r12 plan's second full-stream exchange disappears
        .repartition("lang", "shingle")
        .dropDuplicates(["doc_id", "lang", "shingle"])
    )
    # sh is distinct on (doc_id, lang, shingle), so rows-per-group IS
    # docs-per-shingle: count(1) replaces the countDistinct's second
    # dedup pass (identical value by construction)
    cnt = sh.groupBy("lang", "shingle").agg(
        F.count(F.lit(1)).alias("nd")
    )
    dup = F.when(F.col("nd") > 1, 1).otherwise(0)
    return cnt.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum(dup).alias("n_dup_shingles"),
        r6(F.sum(dup) / F.count(F.lit(1)).cast("double")).alias("dup_share"),
    )


@query(
    "q_llm_quantize",
    oracle="""
    WITH v AS (
        SELECT label,
               GREATEST(list_max(list_transform(embedding,
                   x -> ABS(CAST(x AS DOUBLE)))) / 127.0, 1e-30) AS scale,
               embedding
        FROM embeddings
    ), per_vec AS (
        SELECT label, scale,
               list_sum(list_transform(embedding,
                   x -> POW(CAST(x AS DOUBLE)
                            - FLOOR(CAST(x AS DOUBLE) / scale + 0.5) * scale,
                            2))) / len(embedding) AS mse
        FROM v
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           ROUND(AVG(scale) * 1000.0, 6) AS avg_scale_x1000,
           ROUND(AVG(mse) * 1000000.0, 6) AS avg_mse_x1e6,
           ROUND(MAX(mse) * 1000000.0, 6) AS max_mse_x1e6
    FROM per_vec
    GROUP BY label
    """,
)
def q_llm_quantize(spark, sf_dir):
    """Symmetric int8 quantization audit over the embedding table: per
    vector, scale = max|x|/127, codes = round-half-up(x/scale) (written as
    FLOOR(x/scale + 0.5) so both engines share one rounding rule), and the
    reconstruction MSE of dequantization — reported per label in ppm-scale
    units so the round-6 grid actually resolves the error. This is the
    pre-flight check before shipping a quantized ANN index: all math is JVM
    higher-order array functions over array<float> (no Python), one scan,
    one label-keyed shuffle of 4 doubles per group. float→double casts are
    exact, so cross-engine agreement is limited only by FP noise far below
    the scaled grid."""
    e = T(spark, sf_dir, "embeddings")
    xd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    scale = F.greatest(
        F.array_max(F.transform(xd, lambda x: F.abs(x))) / 127.0,
        F.lit(1e-30),
    )
    v = e.select("label", xd.alias("xd"), scale.alias("scale"))
    err2 = F.aggregate(
        F.col("xd"),
        F.lit(0.0),
        lambda acc, x: acc
        + F.pow(
            x - F.floor(x / F.col("scale") + 0.5) * F.col("scale"), F.lit(2.0)
        ),
    )
    per_vec = v.select(
        "label", "scale", (err2 / F.size("xd")).alias("mse")
    )
    return per_vec.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        r6(F.avg("scale") * 1000.0).alias("avg_scale_x1000"),
        r6(F.avg("mse") * 1000000.0).alias("avg_mse_x1e6"),
        r6(F.max("mse") * 1000000.0).alias("max_mse_x1e6"),
    )


@query(
    "q_llm_sample_weighted",
    oracle="""
    WITH keyed AS (
        SELECT doc_id, lang, n_chars,
               ROUND(
                   ln((('0x' || substr(md5('ws|' || doc_id), 1, 12))::BIGINT
                       + 0.5) / 281474976710656.0) / n_chars,
                   6) AS es_key
        FROM documents
    )
    SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars, es_key
    FROM keyed
    ORDER BY es_key DESC, doc_id
    LIMIT 20
    """,
)
def q_llm_sample_weighted(spark, sf_dir):
    """Weight-proportional sampling without replacement (Efraimidis-
    Spirakis A-ES): each doc draws a deterministic uniform u from the
    engine-portable md5 family and competes on key = ln(u)/w with
    w = n_chars, so longer documents win proportionally more often —
    the standard trick for quality- or length-weighted corpus sampling.
    Top-k by key IS the weighted sample, which means the whole operator
    is one map expression + TakeOrderedAndProject (per-partition k-heaps,
    merge on the driver) — O(k) state, no shuffle of the corpus, and
    restart-stable because the randomness is a pure hash of doc_id. Keys
    are ROUND-6 before ranking (doc_id tie-break) so the selected set
    cannot flip on last-ULP ln() differences."""
    d = T(spark, sf_dir, "documents")
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ws|"), F.col("doc_id").cast("string"))),
                1,
                12,
            ),
            16,
            10,
        ).cast("long")
        + 0.5
    ) / F.lit(281474976710656.0)
    key = F.round(F.log(u) / F.col("n_chars"), 6)
    return (
        d.select(
            "doc_id",
            "lang",
            F.col("n_chars").cast("bigint").alias("n_chars"),
            key.alias("es_key"),
        )
        .orderBy(F.desc("es_key"), "doc_id")
        .limit(20)
    )


@query(
    "q_llm_curriculum",
    oracle="""
    WITH scored AS (
        SELECT doc_id, n_chars,
               len(list_distinct(string_split(text, ' ')))
                   / CAST(len(string_split(text, ' ')) AS DOUBLE) AS ttr
        FROM documents
    ),
    bucketed AS (
        SELECT n_chars, ttr,
               NTILE(10) OVER (ORDER BY ttr, doc_id) AS decile
        FROM scored
    )
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(ttr), 6) AS avg_ttr,
           ROUND(AVG(n_chars), 6) AS avg_n_chars
    FROM bucketed GROUP BY decile
    """,
)
def q_llm_curriculum(spark, sf_dir):
    """Curriculum ordering: rank the corpus by a difficulty proxy
    (type-token ratio — low TTR = repetitive/easy, high TTR = lexically
    dense) and cut it into training deciles — the ordering step of
    curriculum learning and the shape of any staged data mixture. ntile
    over a (score, doc_id) total order makes bucket membership
    deterministic; the score itself is ratio-valued, so the ORDER is on
    raw doubles computed identically by both engines and only the
    reported averages round. At 100 TB the global ntile becomes a
    two-pass quantile-split (sketch the score CDF, then bucket by range
    — q_sketch_quantile_hist is that sketch), same output contract."""
    d = T(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    scored = d.select(
        "doc_id",
        "n_chars",
        (
            F.size(F.array_distinct(toks))
            / F.size(toks).cast("double")
        ).alias("ttr"),
    )
    w = Window.orderBy("ttr", "doc_id")
    return (
        scored.withColumn("decile", F.ntile(10).over(w))
        .groupBy(F.col("decile").cast("bigint").alias("decile"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            r6(F.avg("ttr")).alias("avg_ttr"),
            r6(F.avg("n_chars")).alias("avg_n_chars"),
        )
    )


@query(
    "q_llm_mix_temperature",
    oracle="""
    WITH t AS (
        SELECT source,
               SUM(len(string_split(text, ' ')))::DOUBLE AS toks
        FROM documents GROUP BY source
    ),
    s AS (
        SELECT source, toks / SUM(toks) OVER () AS share FROM t
    ),
    p AS (
        SELECT source, share, POW(share, 0.5) AS raw FROM s
    )
    SELECT source,
           ROUND(share, 6) AS token_share,
           ROUND(raw / SUM(raw) OVER (), 6) AS temp_weight,
           ROUND((raw / SUM(raw) OVER ()) / share, 6) AS upsample_factor
    FROM p
    """,
)
def q_llm_mix_temperature(spark, sf_dir):
    """Temperature-scaled mixture weights (τ = 0.5, the multilingual-
    sampling rule of mBERT/XLM-R and the smoothing in DoReMi-style domain
    mixtures): raise each source's token share to τ and renormalize —
    τ < 1 flattens the mixture toward uniform, upsampling small sources
    without the hard cap of q_llm_mixweights' target-uniform scheme (the
    two queries are the two standard reweighting policies, side by side).
    Plan shape is identical: one groupBy census to |sources| rows, then
    unpartitioned windows over that tiny frame; pow() feeds ratio-valued
    round-6 outputs."""
    from pyspark.sql import Window

    t = (
        T(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.sum(F.size(F.split("text", " ")))
            .cast("double")
            .alias("toks")
        )
    )
    w = Window.partitionBy()
    s = t.select(
        "source", (F.col("toks") / F.sum("toks").over(w)).alias("share")
    )
    p = s.select("source", "share", F.pow("share", 0.5).alias("raw"))
    tw = F.col("raw") / F.sum("raw").over(w)
    return p.select(
        "source",
        r6(F.col("share")).alias("token_share"),
        r6(tw).alias("temp_weight"),
        r6(tw / F.col("share")).alias("upsample_factor"),
    )


@query(
    "q_llm_dedup_sweep",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_QUERIES_NEARDUP_SQL})
    SELECT jaccard,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT doc_b) AS BIGINT) AS n_docs_removed
    FROM pairs
    GROUP BY jaccard
    ORDER BY jaccard DESC
    """,
)
def q_llm_dedup_sweep(spark, sf_dir):
    """Dedup severity histogram: the verified near-dup pairs grouped by
    their (rounded) Jaccard level, with the distinct higher-id members of
    pairs at each level (n_docs_removed counts distinct doc_b per level —
    a doc appearing at several levels is counted at each, and a doc_b may
    itself be a doc_a of another pair, so this is a per-level victim
    count, not a cumulative removal plan). This is the threshold-picking
    view:
    on this corpus the levels are strongly quantized (exact duplicates
    at 1.0 and one-token-off shingles just below), so the histogram —
    not a fixed threshold grid, which would read as flat — is the
    faithful summary. Reads the SAME memoized verified-pair list as
    q_llm_neardup_pairs: one LSH + verify pass per session, the
    histogram for free."""
    pairs = _neardup_pairs(spark, sf_dir)
    return (
        pairs.groupBy("jaccard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.countDistinct("doc_b").cast("bigint").alias("n_docs_removed"),
        )
        .orderBy(F.desc("jaccard"))
    )


@query(
    "q_llm_dup_sources",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_QUERIES_NEARDUP_SQL})
    SELECT LEAST(da.source, db.source) AS source_a,
           GREATEST(da.source, db.source) AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM pairs
    JOIN documents da ON da.doc_id = pairs.doc_a
    JOIN documents db ON db.doc_id = pairs.doc_b
    GROUP BY 1, 2
    ORDER BY n_pairs DESC, source_a, source_b
    LIMIT 15
    """,
)
def q_llm_dup_sources(spark, sf_dir):
    """Cross-source contamination matrix: the verified near-dup pairs
    rolled up by unordered source pair — 'which crawls are copying which'
    (same-source pairs on the diagonal are internal boilerplate; off-
    diagonal mass is syndication/mirroring, the thing a mixture weighting
    must know before trusting per-source token counts). Two joins of the
    memoized pair list against the doc→source map, top-15 by pair count
    with lexical tie-breaks."""
    pairs = _neardup_pairs(spark, sf_dir)
    src = T(spark, sf_dir, "documents").select("doc_id", "source")
    sa = src.select(
        F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")
    )
    sb = src.select(
        F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")
    )
    # broadcast the PAIR side, not the doc→source map (round 7): pairs is
    # ≤ 1000 rows by construction (the memoized cap) while the source map
    # is one row per document — corpus-sized at 100 TB. Each join's build
    # side is the pair-derived frame; the corpus map streams.
    return (
        sa.join(F.broadcast(pairs), "doc_a")
        .transform(lambda j1: sb.join(F.broadcast(j1), "doc_b"))
        .groupBy(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .orderBy(F.desc("n_pairs"), "source_a", "source_b")
        .limit(15)
    )


@query(
    "q_llm_dedup_incremental",
    oracle=f"""
    WITH {_BANDS_CTE},
    inc AS (
        SELECT doc_id, lang, md5(text) AS h FROM documents
        WHERE doc_id % 10 = 0
    ),
    ex AS (
        SELECT doc_id, md5(text) AS h FROM documents
        WHERE doc_id % 10 <> 0
    ),
    exact AS (SELECT DISTINCT i.doc_id FROM inc i JOIN ex e ON i.h = e.h),
    cand AS (
        SELECT DISTINCT bi.doc_id AS inc_id, be.doc_id AS ex_id
        FROM bands bi
        JOIN bands be ON bi.band_id = be.band_id
                     AND bi.band_key = be.band_key
        WHERE bi.doc_id % 10 = 0 AND be.doc_id % 10 <> 0
    ),
    sizes AS (
        SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS n
        FROM toks GROUP BY doc_id
    ),
    inter AS (
        SELECT c.inc_id, c.ex_id, CAST(COUNT(*) AS DOUBLE) AS ni
        FROM cand c
        JOIN toks ta ON ta.doc_id = c.inc_id
        JOIN toks tb ON tb.doc_id = c.ex_id AND tb.token = ta.token
        GROUP BY c.inc_id, c.ex_id
    ),
    near AS (
        SELECT DISTINCT i.inc_id AS doc_id
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.inc_id
        JOIN sizes sb ON sb.doc_id = i.ex_id
        WHERE i.ni / (sa.n + sb.n - i.ni) >= 0.5
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS incoming,
           CAST(SUM(CASE WHEN doc_id IN (SELECT doc_id FROM exact)
                         THEN 1 ELSE 0 END) AS BIGINT) AS exact_dup,
           CAST(SUM(CASE WHEN doc_id NOT IN (SELECT doc_id FROM exact)
                          AND doc_id IN (SELECT doc_id FROM near)
                         THEN 1 ELSE 0 END) AS BIGINT) AS near_dup,
           CAST(SUM(CASE WHEN doc_id NOT IN (SELECT doc_id FROM exact)
                          AND doc_id NOT IN (SELECT doc_id FROM near)
                         THEN 1 ELSE 0 END) AS BIGINT) AS unique_docs
    FROM inc
    GROUP BY lang
    """,
)
def q_llm_dedup_incremental(spark, sf_dir):
    """Incremental (delta) dedup — the production daily-ingest shape: an
    incoming batch (doc_id % 10 = 0, a deterministic 10% slice) is deduped
    AGAINST the existing corpus (the other 90%), never rescanning
    corpus×corpus. Classification per incoming doc, in precedence order:
    exact_dup (md5(text) already present), else near_dup (shares ≥1 MinHash
    band with an existing doc AND verified Jaccard ≥ 0.5), else unique.
    Output: per-language counts of each class.

    Scale shape: the existing corpus participates only through (a) its
    16-byte md5 keys (semi-join) and (b) its band table — both of which a
    production pipeline maintains as persisted incremental state rather
    than recomputing (the band table is append-only under ingest, which is
    why LSH is the industry-standard incremental dedup index). The
    candidate join is incoming-bands × existing-bands on the band key —
    work scales with the DELTA, not the corpus. Batch-internal duplicates
    (incoming × incoming) are deliberately out of scope here: that is the
    ordinary full-batch dedup (q_llm_dedup_exact / q_llm_neardup_pairs)
    run on the delta alone."""
    docs = T(spark, sf_dir, "documents")
    is_inc = F.col("doc_id") % 10 == 0
    # one md5 pass feeds both the incoming and existing key sides
    hashes = _ckpt(
        docs.select("doc_id", "lang", F.md5("text").alias("h"))
    )
    inc = hashes.filter(is_inc)
    ex_hashes = hashes.filter(~is_inc).select("h")
    exact_ids = inc.join(ex_hashes, "h", "left_semi").select("doc_id")

    bands = _bands(spark, sf_dir)
    bi = bands.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("inc_id"), "band_id", "band_key"
    )
    be = bands.filter(F.col("doc_id") % 10 != 0).select(
        F.col("doc_id").alias("ex_id"), "band_id", "band_key"
    )
    cand = (
        bi.join(be, ["band_id", "band_key"])
        .select("inc_id", "ex_id")
        .distinct()
    )
    # verify with the same candidate-bounded token-array machinery as the
    # full pipeline (see _verified_jaccard); the array-map bound comes
    # from the band table, not the pair stream (_band_candidate_ids).
    # split= restricts it to MIXED buckets (≥1 inc AND ≥1 ex occupant) —
    # exactly the inc×ex pair participants (ADVICE r13): the r13 bound
    # counted every big-bucket doc including same-side-only ones, which
    # only enlarged the token-array broadcast the gate must estimate
    near_ids = (
        _verified_jaccard(docs, cand, "inc_id", "ex_id",
                          cand_ids=_band_candidate_ids(
                              bands, split=F.col("doc_id") % 10 == 0))
        .select(F.col("inc_id").alias("doc_id"))
        .distinct()
    )
    flagged = (
        inc.join(
            exact_ids.withColumn("is_exact", F.lit(1)), "doc_id", "left"
        )
        .join(near_ids.withColumn("is_near", F.lit(1)), "doc_id", "left")
        .select(
            "lang",
            F.coalesce("is_exact", F.lit(0)).alias("is_exact"),
            F.coalesce("is_near", F.lit(0)).alias("is_near"),
        )
    )
    return flagged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("incoming"),
        F.sum("is_exact").cast("bigint").alias("exact_dup"),
        F.sum(
            F.when((F.col("is_exact") == 0) & (F.col("is_near") == 1), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("near_dup"),
        F.sum(
            F.when((F.col("is_exact") == 0) & (F.col("is_near") == 0), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("unique_docs"),
    )
