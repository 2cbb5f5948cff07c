"""Training-data pipeline extensions beyond SURVEY §2.8: language
identification, quality scoring, token counting, document fingerprinting,
SimHash dedup, and LSH-bucketed approximate nearest neighbours.

These are the operators a 100 TB pretraining-data pipeline runs after ingest:
every one is a single declarative pass (explode/groupBy/window), no Python in
the hot path, and every hash is md5-derived so both engines agree bit-for-bit
(same design as the §2.8 MinHash family).

Note on the synthetic corpus: all five `lang` values share one vocabulary, so
the language-ID confusion matrix is dominated by marker-set luck — the query
checks the *mechanism* (n-gram marker scoring with deterministic argmax), not
classifier accuracy.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from mapreduce_machine_learning_spark.determinism import r6, r6_sql
from mapreduce_machine_learning_spark.functions import cosine, cosine_sql
from mapreduce_machine_learning_spark.io import load_table as T
from mapreduce_machine_learning_spark.registry import query
from mapreduce_machine_learning_spark.runtime import checkpoint as _ckpt

# fixed marker vocabularies (arbitrary but FROZEN — §2.9-style literals)
LANG_MARKERS = {
    "de": ("customer", "batch", "merge", "key"),
    "en": ("hash", "order", "table", "window"),
    "es": ("slow", "agg", "vector", "value"),
    "fr": ("scan", "data", "query", "small"),
    "zh": ("join", "the", "column", "row"),
}
STOPWORDS = ("the", "a", "of", "and", "to", "in")


def _sql_list(words) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


_SCORE_SQL = ",\n               ".join(
    f"len(list_intersect(toks, {_sql_list(ws)})) AS s_{lang}"
    for lang, ws in LANG_MARKERS.items()
)
_PRED_SQL = (
    "CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de' "
    "WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en' "
    "WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es' "
    "WHEN s_fr >= s_zh THEN 'fr' ELSE 'zh' END"
)


@query(
    "q_text_langid",
    oracle=f"""
    WITH scored AS (
        SELECT lang,
               {_SCORE_SQL}
        FROM (SELECT lang, list_distinct(string_split(text, ' ')) AS toks
              FROM documents)
    )
    SELECT lang, {_PRED_SQL} AS predicted, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM scored
    GROUP BY lang, predicted
    """,
)
def q_text_langid(spark, sf_dir):
    """Heuristic language ID: score each doc's distinct-token set against
    five fixed marker vocabularies, predict the argmax (ties resolved in
    lang order — identical CASE text both engines); output the confusion
    matrix. The real-corpus version swaps marker sets for char-n-gram
    profiles; the plan shape (map-side scoring, tiny agg) is identical."""
    d = T(spark, sf_dir, "documents")
    toks = F.array_distinct(F.split("text", " "))
    scored = d.select(
        "lang",
        *[
            F.size(
                F.array_intersect(toks, F.array(*[F.lit(w) for w in ws]))
            ).alias(f"s_{lang}")
            for lang, ws in LANG_MARKERS.items()
        ],
    )
    s = {lang: F.col(f"s_{lang}") for lang in LANG_MARKERS}
    pred = (
        F.when(
            (s["de"] >= s["en"]) & (s["de"] >= s["es"]) & (s["de"] >= s["fr"]) & (s["de"] >= s["zh"]),
            "de",
        )
        .when((s["en"] >= s["es"]) & (s["en"] >= s["fr"]) & (s["en"] >= s["zh"]), "en")
        .when((s["es"] >= s["fr"]) & (s["es"] >= s["zh"]), "es")
        .when(s["fr"] >= s["zh"], "fr")
        .otherwise("zh")
    )
    return (
        scored.withColumn("predicted", pred)
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@query(
    "q_text_quality",
    oracle=f"""
    WITH q AS (
        SELECT lang,
               CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
               CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS n_dist,
               CAST(len(list_intersect(list_distinct(string_split(text, ' ')),
                                       {_sql_list(STOPWORDS)})) AS DOUBLE) AS n_stop,
               CAST(n_chars AS DOUBLE) AS nc
        FROM documents
    ),
    s AS (
        SELECT lang,
               0.4 * (n_dist / n_tok)
             + 0.3 * (1.0 - n_stop / n_dist)
             + 0.3 * LEAST(((nc - (n_tok - 1)) / n_tok) / 8.0, 1.0) AS score
        FROM q
    )
    SELECT lang, CAST(FLOOR(score * 10) AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           ROUND(AVG(score), 6) AS avg_score
    FROM s
    GROUP BY lang, bucket
    """,
)
def q_text_quality(spark, sf_dir):
    """Document quality score — the standard pretraining filter features
    (type-token ratio, stopword ratio over a fixed list, mean token length)
    combined with fixed weights, bucketed per language. Pure column math; at
    scale this annotates every document in one map stage with zero shuffle
    (the histogram agg is the only exchange)."""
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
    return (
        d.select("lang", score.alias("score"))
        .groupBy("lang", F.floor(F.col("score") * 10).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            r6(F.avg("score")).alias("avg_score"),
        )
    )


@query(
    "q_text_tokens",
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
           CAST(SUM(list_sum(list_transform(string_split(text, ' '),
                    t -> CAST(FLOOR((length(t) + 3) / 4) AS BIGINT)))) AS BIGINT)
               AS bpe_tokens,
           ROUND(SUM(list_sum(list_transform(string_split(text, ' '),
                    t -> CAST(FLOOR((length(t) + 3) / 4) AS BIGINT))))
                 / CAST(SUM(len(string_split(text, ' '))) AS DOUBLE), 6)
               AS bpe_per_word
    FROM documents
    GROUP BY source
    """,
)
def q_text_tokens(spark, sf_dir):
    """Token counting two ways: whitespace words and a BPE-style subword
    estimate (⌈len/4⌉ pieces per word — the standard chars/4 heuristic,
    computed exactly with integer FLOOR so both engines agree). Budgeting
    pretraining token counts is a pure map+agg: no shuffle beyond the 20-row
    source rollup."""
    d = T(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    bpe = F.aggregate(
        F.transform(toks, lambda t: F.floor((F.length(t) + 3) / 4)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(F.size(toks)).alias("ws_tokens"),
        F.sum(bpe).alias("bpe_tokens"),
        r6(F.sum(bpe) / F.sum(F.size(toks)).cast("double")).alias("bpe_per_word"),
    )


@query(
    "q_text_fingerprint",
    oracle="""
    WITH pos AS (
        SELECT doc_id, lang,
               UNNEST(string_split(text, ' ')) AS token,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents
    ),
    shingles AS (
        SELECT doc_id, lang,
               token || ' ' || LEAD(token, 1) OVER w || ' ' || LEAD(token, 2) OVER w
                   AS shingle
        FROM pos
        WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    fp AS (
        SELECT doc_id, lang, MIN(md5(shingle)) AS fingerprint
        FROM shingles WHERE shingle IS NOT NULL
        GROUP BY doc_id, lang
    ),
    grp AS (
        SELECT lang, fingerprint, CAST(COUNT(*) AS BIGINT) AS group_size
        FROM fp GROUP BY lang, fingerprint
    )
    SELECT lang,
           CAST(SUM(group_size) AS BIGINT) AS docs,
           CAST(COUNT(*) AS BIGINT) AS distinct_fp,
           CAST(MAX(group_size) AS BIGINT) AS max_fp_group
    FROM grp GROUP BY lang
    """,
)
def q_text_fingerprint(spark, sf_dir):
    """Rolling-hash document fingerprint (winnowing-lite): md5 over every
    word 3-gram, keep the minimum as the doc fingerprint; docs sharing a
    fingerprint are duplication candidates. The 3-grams come from two LEAD
    windows per doc — one shuffle on doc_id; at 100 TB the shingle stream
    never materializes outside its partition."""
    d = T(spark, sf_dir, "documents")
    pos = d.select(
        "doc_id",
        "lang",
        F.posexplode(F.split("text", " ")).alias("pos", "token"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    shingle = F.concat_ws(
        " ", "token", F.lead("token", 1).over(w), F.lead("token", 2).over(w)
    )
    # concat_ws skips trailing nulls → force NULL when the 3-gram is short
    shingles = pos.select(
        "doc_id",
        "lang",
        F.when(
            F.lead("token", 2).over(w).isNotNull(), F.md5(shingle)
        ).alias("h"),
    )
    fp = (
        shingles.filter(F.col("h").isNotNull())
        .groupBy("doc_id", "lang")
        .agg(F.min("h").alias("fingerprint"))
    )
    grp = fp.groupBy("lang", "fingerprint").agg(
        F.count(F.lit(1)).alias("group_size")
    )
    return grp.groupBy("lang").agg(
        F.sum("group_size").alias("docs"),
        F.count(F.lit(1)).alias("distinct_fp"),
        F.max("group_size").alias("max_fp_group"),
    )


_NIBBLE_ONE = "('8','9','a','b','c','d','e','f')"
_SIM_BITS_SQL = ",\n               ".join(
    f"CASE WHEN SUM(CASE WHEN substr(md5(token), {j + 1}, 1) IN {_NIBBLE_ONE} "
    f"THEN 1 ELSE -1 END) >= 0 THEN '1' ELSE '0' END AS b{j}"
    for j in range(16)
)


@query(
    "q_llm_simhash",
    oracle=f"""
    WITH toks AS (
        SELECT DISTINCT doc_id, UNNEST(string_split(text, ' ')) AS token
        FROM documents
    ),
    sim AS (
        SELECT doc_id,
               {_SIM_BITS_SQL}
        FROM toks GROUP BY doc_id
    ),
    keyed AS (
        SELECT doc_id,
               b0 || b1 || b2 || b3 || b4 || b5 || b6 || b7 ||
               b8 || b9 || b10 || b11 || b12 || b13 || b14 || b15 AS simhash
        FROM sim
    )
    SELECT simhash, CAST(COUNT(*) AS BIGINT) AS group_size
    FROM keyed
    GROUP BY simhash
    HAVING COUNT(*) > 1
    """,
)
def q_llm_simhash(spark, sf_dir):
    """SimHash near-dup detection: 16-bit signature where bit j is the sign
    of Σ±1 votes from the j-th hex nibble of each distinct token's md5.
    Similar token sets → similar signatures; identical signatures are dup
    candidates (emitted here). Like MinHash, the md5 vote basis makes the
    signature engine-portable; one explode + one 16-column agg, shuffled on
    doc_id only."""
    toks = (
        T(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .distinct()
    )
    one = set("89abcdef")
    votes = [
        F.sum(
            F.when(
                F.substring(F.md5("token"), j + 1, 1).isin(*one), 1
            ).otherwise(-1)
        )
        for j in range(16)
    ]
    bits = [
        F.when(v >= 0, "1").otherwise("0").alias(f"b{j}")
        for j, v in enumerate(votes)
    ]
    sim = toks.groupBy("doc_id").agg(*bits)
    return (
        sim.select(F.concat(*[F.col(f"b{j}") for j in range(16)]).alias("simhash"))
        .groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("group_size"))
        .filter(F.col("group_size") > 1)
    )


@query(
    "q_ann_lsh",
    oracle="""
    WITH buckets AS (
        SELECT vec_id, embedding,
               (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
             + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
             + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
             + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END)
             + (CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END)
             + (CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END)
             + (CASE WHEN embedding[7] > 0 THEN 64 ELSE 0 END)
             + (CASE WHEN embedding[8] > 0 THEN 128 ELSE 0 END) AS bucket
        FROM embeddings
    ),
    qb AS (SELECT bucket, embedding AS qe FROM buckets WHERE vec_id = 0),
    cand AS (
        SELECT b.vec_id,
               UNNEST(b.embedding) AS x, UNNEST(q.qe) AS y
        FROM buckets b JOIN qb q ON b.bucket = q.bucket
        WHERE b.vec_id <> 0
    ),
    sims AS (
        SELECT vec_id,
               SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
                   / (SQRT(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
                      * SQRT(SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))) AS cos
        FROM cand GROUP BY vec_id
    )
    SELECT vec_id, ROUND(cos, 6) AS cos_sim
    FROM sims
    ORDER BY ROUND(cos, 6) DESC, vec_id
    LIMIT 5
    """,
)
def q_ann_lsh(spark, sf_dir):
    """LSH-bucketed ANN: sign-pattern of the first 8 dimensions forms a
    256-way hyperplane bucket; only the query's bucket is searched (the
    scale path vs q_ml_knn's brute force — bucket assignment is a map, the
    candidate set shrinks ~256×, and buckets partition the index across
    executors). Fixed axis-aligned hyperplanes keep it engine-portable;
    production would use seeded random projections, same plan shape."""
    emb = T(spark, sf_dir, "embeddings")
    bucket = sum(
        F.when(F.element_at("embedding", j + 1) > 0, 2**j).otherwise(0)
        for j in range(8)
    )
    b = emb.withColumn("bucket", bucket)
    q = b.filter(F.col("vec_id") == 0).select(
        F.col("bucket").alias("q_bucket"), F.col("embedding").alias("qe")
    )
    cand = b.filter(F.col("vec_id") != 0).join(
        F.broadcast(q), F.col("bucket") == F.col("q_bucket")
    )
    cos = cosine("embedding", "qe")
    return (
        cand.select("vec_id", r6(cos).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(5)
    )


_COS_SQL = """SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
                   / (SQRT(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
                      * SQRT(SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))"""


@query(
    "q_ann_ivf",
    oracle=f"""
    WITH cent AS (
        SELECT vec_id AS cid, embedding AS cemb
        FROM embeddings WHERE vec_id IN (1, 2, 3, 4)
    ),
    vc_pairs AS (
        SELECT v.vec_id, c.cid,
               UNNEST(v.embedding) AS x, UNNEST(c.cemb) AS y
        FROM embeddings v CROSS JOIN cent c
    ),
    vc AS (
        SELECT vec_id, cid, ROUND({_COS_SQL}, 6) AS cos
        FROM vc_pairs GROUP BY vec_id, cid
    ),
    assign AS (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY cos DESC, cid) AS rn
            FROM vc)
        WHERE rn = 1
    ),
    probe AS (
        SELECT cid FROM (
            SELECT cid, ROW_NUMBER() OVER (ORDER BY cos DESC, cid) AS rn
            FROM vc WHERE vec_id = 0)
        WHERE rn <= 2
    ),
    cand AS (
        SELECT a.vec_id FROM assign a JOIN probe p ON a.cid = p.cid
        WHERE a.vec_id <> 0
    ),
    fin_pairs AS (
        SELECT e.vec_id, UNNEST(e.embedding) AS x, UNNEST(q.embedding) AS y
        FROM embeddings e
        JOIN cand USING (vec_id),
             (SELECT embedding FROM embeddings WHERE vec_id = 0) q
    ),
    fin AS (
        SELECT vec_id, ROUND({_COS_SQL}, 6) AS cos_sim
        FROM fin_pairs GROUP BY vec_id
    )
    SELECT vec_id, cos_sim FROM fin
    ORDER BY cos_sim DESC, vec_id
    LIMIT 10
    """,
)
def q_ann_ivf(spark, sf_dir):
    """IVF-style ANN: a 4-cell inverted-file index with the embeddings of
    vec_ids 1-4 as fixed coarse centroids (§2.9-style frozen literals —
    production would train them with the k-means driver in ml_iterative).
    Every vector is assigned to its argmax-cosine cell (ties → lowest cid,
    on round-6 cosine so the assignment can't flip on FP noise); the query
    probes its 2 nearest cells (nprobe=2) and ranks only those candidates.

    Scale shape: assignment is one broadcast-join map pass; writing the
    table partitioned by cell turns every later query into partition
    pruning — a ~(n_cells/nprobe)× scan cut, with brute-force q_ml_knn as
    the exact-recall baseline.

    Plan shape (r14, guide §2.4): the 4 centroids ride ONE broadcast row
    as a (cid, cemb) struct array, so each vector's argmax cell is a
    per-row struct-max over its 4 round-6 cosines — the old
    crossJoin→row_number form shuffled the 4n-row cosine table by vec_id
    for the window and joined it back to the vector table; both
    exchanges (and the 4n-row persist) are gone. The tie rule is
    unchanged: max of struct(cos, -cid) ≡ row_number over
    (cos DESC, cid ASC) = 1."""
    emb = T(spark, sf_dir, "embeddings")
    # one broadcast row: the 4 (cid, cemb) centroid structs (sort only
    # for a deterministic array — argmax/probe ranks are order-free);
    # checkpointed because BOTH the assignment pass and the probe row
    # attach it
    cents = _ckpt(
        emb.filter(F.col("vec_id").isin(1, 2, 3, 4)).agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("vec_id").alias("cid"),
                        F.col("embedding").alias("cemb"),
                    )
                )
            ).alias("cents")
        )
    )
    # per vector: all 4 round-6 cell cosines in one map pass, argmax by
    # (cos DESC, cid ASC) as the struct-max of (cos, -cid)
    cos_c = r6_sql(cosine_sql("embedding", "c.cemb"))
    best = F.expr(
        f"array_max(transform(cents, c -> struct({cos_c} AS cos, -c.cid AS negcid)))"
    )
    assigned = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id", "embedding", (-best["negcid"]).alias("cid")
    )
    # the query vector's 2 nearest cells, off its own 4-cosine row:
    # ascending struct sort on (-cos, cid) ≡ (cos DESC, cid ASC)
    probe = (
        emb.filter(F.col("vec_id") == 0)
        .crossJoin(F.broadcast(cents))
        .select(
            F.expr(
                "transform(slice(array_sort(transform(cents, c -> struct("
                f"-{cos_c} AS negcos, c.cid AS cid))), 1, 2), s -> s.cid)"
            ).alias("probe_cids"),
            F.col("embedding").alias("qe"),
        )
    )
    return (
        assigned.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(probe))
        .filter(F.array_contains("probe_cids", F.col("cid")))
        .select("vec_id", r6(cosine("embedding", "qe")).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(10)
    )


@query(
    "q_llm_contamination",
    oracle="""
    WITH tr AS (
        SELECT doc_id, lang, string_split(text, ' ') AS toks
        FROM documents WHERE source <> 'src0'
    ),
    evs AS (
        SELECT DISTINCT
               UNNEST(list_transform(
                   range(1, len(toks) - 3),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                        || ' ' || toks[i+3] || ' ' || toks[i+4])) AS shingle
        FROM (SELECT string_split(text, ' ') AS toks
              FROM documents WHERE source = 'src0')
        WHERE len(toks) >= 5
    ),
    trs AS (
        SELECT DISTINCT doc_id,
               UNNEST(list_transform(
                   range(1, len(toks) - 3),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                        || ' ' || toks[i+3] || ' ' || toks[i+4])) AS shingle
        FROM tr WHERE len(toks) >= 5
    ),
    cont AS (
        SELECT DISTINCT doc_id FROM trs
        WHERE shingle IN (SELECT shingle FROM evs)
    )
    SELECT t.lang,
           CAST(COUNT(*) AS BIGINT) AS n_train,
           CAST(SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_contaminated,
           ROUND(SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
                 / COUNT(*), 6) AS contamination_rate
    FROM tr t LEFT JOIN cont c ON t.doc_id = c.doc_id
    GROUP BY t.lang
    """,
)
def q_llm_contamination(spark, sf_dir):
    """Benchmark decontamination: flag training documents sharing any
    5-gram shingle with the held-out set (source='src0' plays the benchmark
    role). Shingling is a JVM higher-order transform (no explode-then-window,
    no Python); the overlap test is a LEFT SEMI join against the benchmark
    shingle set, which is small by nature (benchmarks are KB-MB while the
    corpus is TB), so at scale it broadcasts and the training side is never
    widened or paired — the quadratic doc×doc blowup of naive contamination
    checks never materializes."""
    docs = T(spark, sf_dir, "documents")
    five_gram = F.explode(
        F.expr(
            "transform(sequence(0, size(toks) - 5), "
            "i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2], ' ', "
            "toks[i+3], ' ', toks[i+4]))"
        )
    ).alias("shingle")

    def shingles(df):
        return (
            df.withColumn("toks", F.split("text", " "))
            .filter(F.size("toks") >= 5)
            .select("doc_id", five_gram)
            .distinct()
        )

    tr = docs.filter(F.col("source") != "src0")
    ev_sh = shingles(docs.filter(F.col("source") == "src0")).select("shingle").distinct()
    contaminated = (
        shingles(tr)
        .join(F.broadcast(ev_sh), "shingle", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        tr.select("doc_id", "lang")
        .join(contaminated, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_train"),
            F.coalesce(F.sum("hit"), F.lit(0)).alias("n_contaminated"),
            r6(
                F.coalesce(F.sum("hit"), F.lit(0))
                / F.count(F.lit(1))
            ).alias("contamination_rate"),
        )
    )


@query(
    "q_text_repetition",
    oracle="""
    WITH per_tok AS (
        SELECT doc_id, lang, tok, COUNT(*) AS c
        FROM (SELECT doc_id, lang, UNNEST(string_split(text, ' ')) AS tok
              FROM documents)
        GROUP BY doc_id, lang, tok
    ),
    per_doc AS (
        SELECT doc_id, lang, SUM(c) AS ntok, MAX(c) AS maxc,
               COUNT(*) AS ndist
        FROM per_tok GROUP BY doc_id, lang
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS docs,
           ROUND(AVG(maxc::DOUBLE / ntok), 6) AS avg_top_share,
           ROUND(AVG(ndist::DOUBLE / ntok), 6) AS avg_distinct_ratio,
           CAST(SUM(CASE WHEN maxc::DOUBLE / ntok > 0.12 THEN 1 ELSE 0 END)
                AS BIGINT) AS flagged
    FROM per_doc GROUP BY lang
    """,
)
def q_text_repetition(spark, sf_dir):
    """Repetition-based quality filter: per document, the share of the most
    frequent token (boilerplate/spam detector) and the distinct-token ratio
    (a cheap compression-ratio proxy); documents whose top token exceeds 12%
    of all tokens are flagged (the corpus median top-share is ~0.10, so the
    threshold actually discriminates). Two cascaded aggregates over the exploded
    tokens — the (doc, token) key is high-cardinality and skew-free, and the
    per-doc rollup input is bounded by vocabulary, so the plan is two clean
    partial+final hash-agg exchanges."""
    toks = T(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("tok")
    )
    per_tok = toks.groupBy("doc_id", "lang", "tok").agg(
        F.count(F.lit(1)).alias("c")
    )
    per_doc = per_tok.groupBy("doc_id", "lang").agg(
        F.sum("c").alias("ntok"),
        F.max("c").alias("maxc"),
        F.count(F.lit(1)).alias("ndist"),
    )
    share = F.col("maxc") / F.col("ntok")
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("docs"),
        r6(F.avg(share)).alias("avg_top_share"),
        r6(F.avg(F.col("ndist") / F.col("ntok"))).alias(
            "avg_distinct_ratio"
        ),
        F.sum(F.when(share > 0.12, 1).otherwise(0)).alias("flagged"),
    )


@query(
    "q_text_entropy",
    oracle="""
    WITH per AS (
        SELECT source, lang, COUNT(*)::DOUBLE AS c
        FROM documents GROUP BY source, lang
    )
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_langs,
           ROUND(LN(SUM(c)) - SUM(c * LN(c)) / SUM(c), 6) AS lang_entropy
    FROM per GROUP BY source
    """,
)
def q_text_entropy(spark, sf_dir):
    """Data-mixture diagnostics: per source, the Shannon entropy (nats) of
    its language distribution — the health metric a training-mixture pipeline
    watches to catch a crawl source collapsing to one language. Uses the
    algebraic form H = ln(n) − Σc·ln(c)/n so the whole thing is ONE pair of
    cascaded hash aggregates — no per-source total joined back, no window;
    both stages are partial+final, so at 100 TB each scan partition emits at
    most |sources|×|langs| rows into the only shuffle."""
    per = (
        T(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    n = F.sum("c")
    return per.groupBy("source").agg(
        n.cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).alias("n_langs"),
        r6(F.log(n) - F.sum(F.col("c") * F.log("c")) / n).alias(
            "lang_entropy"
        ),
    )


@query(
    "q_text_bigram_lm",
    oracle="""
    WITH bg AS (
        SELECT UNNEST(list_transform(
                   range(1, len(toks)),
                   i -> struct_pack(w1 := toks[i], w2 := toks[i+1])))
                   AS b
        FROM (SELECT string_split(text, ' ') AS toks FROM documents)
        WHERE len(toks) >= 2
    ),
    cnt AS (
        SELECT b.w1 AS w1, b.w2 AS w2, COUNT(*) AS c
        FROM bg GROUP BY b.w1, b.w2
    ),
    tot AS (
        SELECT w1, w2, c, SUM(c) OVER (PARTITION BY w1) AS c_w1
        FROM cnt
    )
    SELECT w1, w2,
           CAST(c AS BIGINT) AS bigram_count,
           CAST(c_w1 AS BIGINT) AS prefix_count,
           ROUND(CAST(c AS DOUBLE) / CAST(c_w1 AS DOUBLE), 6) AS cond_prob
    FROM tot
    WHERE c >= 5
    ORDER BY cond_prob DESC, w1, w2
    LIMIT 20
    """,
)
def q_text_bigram_lm(spark, sf_dir):
    """Bigram language model over the corpus: P(w₂|w₁) = count(w₁w₂) /
    count(w₁·), reported for the 20 most-predictable bigrams with support
    ≥ 5 — the MapReduce-era n-gram-count job (the canonical "word count's
    big sibling") as two JVM-side passes. Bigram extraction is a pure
    higher-order expression (transform over sequence — no self-join of
    exploded positions); the conditional denominator is a window SUM over
    the already-grouped counts, shuffling |vocab²| count rows, never token
    occurrences. Counts are exact integers; the probability is a ratio of
    identical integers on both engines, so round-6 is noise-free. At 100 TB
    this is the plan you want: one explode-free extraction, one partial+
    final count agg keyed (w₁,w₂), one |vocab|-keyed window."""
    docs = T(spark, sf_dir, "documents")
    bg = (
        docs.withColumn("toks", F.split("text", " "))
        .filter(F.size("toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(toks) - 2), "
                    "i -> struct(toks[i] AS w1, toks[i+1] AS w2))"
                )
            ).alias("b")
        )
        .select("b.w1", "b.w2")
    )
    cnt = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("w1")
    return (
        cnt.withColumn("c_w1", F.sum("c").over(w))
        .filter(F.col("c") >= 5)
        .select(
            "w1",
            "w2",
            F.col("c").alias("bigram_count"),
            F.col("c_w1").alias("prefix_count"),
            r6(F.col("c").cast("double") / F.col("c_w1").cast("double")).alias(
                "cond_prob"
            ),
        )
        .orderBy(F.desc("cond_prob"), "w1", "w2")
        .limit(20)
    )


@query(
    "q_text_zipf",
    oracle="""
    WITH tok AS (
        SELECT UNNEST(string_split(text, ' ')) AS token FROM documents
    ),
    cnt AS (SELECT token, COUNT(*) AS c FROM tok GROUP BY token),
    ranked AS (
        SELECT token, c,
               ROW_NUMBER() OVER (ORDER BY c DESC, token) AS rnk
        FROM cnt
    ),
    pts AS (
        SELECT LN(CAST(rnk AS DOUBLE)) AS x, LN(CAST(c AS DOUBLE)) AS y
        FROM ranked
    ),
    s AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * x) AS sxx, SUM(x * y) AS sxy
        FROM pts
    )
    SELECT CAST(n AS BIGINT) AS vocab,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
           ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n,
                 6) AS zipf_intercept
    FROM s
    """,
)
def q_text_zipf(spark, sf_dir):
    """Zipf's-law fit: word count (THE canonical MapReduce job) → frequency
    ranks → OLS of ln(count) on ln(rank), all in one plan. The rank tie-break
    (count DESC, token) is explicit so both engines rank identically; the
    regression reuses the summation-form kernel over |vocab| points. At scale
    only the token count shuffles on token; the ranked frame is |vocab|-sized
    and the global window sort costs |vocab| log |vocab|, independent of
    corpus bytes. Log sums are O(vocab·ln(freq)) ~1e4 — round-6 stable."""
    tok = T(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("token")
    )
    cnt = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    ranked = cnt.select(
        F.log(F.row_number().over(
            Window.orderBy(F.desc("c"), "token")
        ).cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    )
    s = ranked.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n, sx, sy, sxx, sxy = (F.col(c) for c in ("n", "sx", "sy", "sxx", "sxy"))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.select(
        n.cast("bigint").alias("vocab"),
        r6(slope).alias("zipf_slope"),
        r6((sy - slope * sx) / n).alias("zipf_intercept"),
    )


@query(
    "q_text_kl",
    oracle="""
    WITH tok AS (
        SELECT source, UNNEST(string_split(text, ' ')) AS token
        FROM documents
    ),
    sc AS (SELECT source, token, CAST(COUNT(*) AS DOUBLE) AS c
           FROM tok GROUP BY source, token),
    st AS (SELECT source, SUM(c) AS tot FROM sc GROUP BY source),
    gc AS (SELECT token, SUM(c) AS g FROM sc GROUP BY token),
    gt AS (SELECT SUM(c) AS gtot FROM sc)
    SELECT sc.source,
           CAST(st.tot AS BIGINT) AS tokens,
           ROUND(SUM((sc.c / st.tot)
                     * LN((sc.c / st.tot) / (gc.g / gt.gtot))), 6) AS kl_bits
    FROM sc
    JOIN st ON st.source = sc.source
    JOIN gc ON gc.token = sc.token
    CROSS JOIN gt
    GROUP BY sc.source, st.tot
    """,
)
def q_text_kl(spark, sf_dir):
    """Per-source KL divergence from the corpus unigram distribution —
    D(pₛ‖p) = Σ pₛ ln(pₛ/p) — the quantitative "how different is this
    source's language" mixture diagnostic (pₛ ≪ p holds by construction:
    every source token is in the corpus). Counts aggregate once keyed
    (source, token); the global distribution is a second, |vocab|-keyed agg
    of those counts (never re-reading the corpus) broadcast back by token.
    Each KL term is O(p·ln ratio) ≤ 1; per-source sums are ≤ ln(vocab) —
    round-6 stable."""
    tok = T(spark, sf_dir, "documents").select(
        "source", F.explode(F.split("text", " ")).alias("token")
    )
    # the docstring's "never re-reading the corpus" is only true with the
    # checkpoint: four consumers (source totals, global counts, global
    # total, the KL join) would otherwise each re-explode the corpus
    sc = _ckpt(
        tok.groupBy("source", "token").agg(
            F.count(F.lit(1)).cast("double").alias("c")
        )
    )
    st = sc.groupBy("source").agg(F.sum("c").alias("tot"))
    gc = sc.groupBy("token").agg(F.sum("c").alias("g"))
    gt = sc.agg(F.sum("c").alias("gtot"))
    ps = F.col("c") / F.col("tot")
    pg = F.col("g") / F.col("gtot")
    return (
        sc.join(F.broadcast(st), "source")
        .join(gc, "token")
        .crossJoin(F.broadcast(gt))
        .groupBy("source", "tot")
        .agg(r6(F.sum(ps * F.log(ps / pg))).alias("kl_bits"))
        .select(
            "source",
            F.col("tot").cast("bigint").alias("tokens"),
            "kl_bits",
        )
    )


@query(
    "q_text_tokens_regexp",
    oracle="""
    SELECT source,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
           CAST(SUM(len(regexp_extract_all(text, '[a-z]+'))) AS BIGINT)
               AS re_tokens,
           CAST(SUM(len(regexp_extract_all(text, '[a-z]{1,4}'))) AS BIGINT)
               AS re_pieces
    FROM documents
    GROUP BY source
    """,
)
def q_text_tokens_regexp(spark, sf_dir):
    """Regex tokenization next to whitespace splitting: `[a-z]+` word runs
    (the letters-only core of a GPT-2-style pretokenizer — this corpus has
    no digits/punctuation classes to match) and `[a-z]{1,4}` max-4-char
    pieces, a greedy BPE-ish subword segmentation whose piece count is the
    chars/4 ceiling per word computed by ACTUAL regex splitting rather than
    q_text_tokens' arithmetic shortcut. Both engines run the same simple
    character-class patterns (dialect-safe across Java and RE2-style
    engines); counting stays JVM-side via size(regexp_extract_all) — one
    scan, one 20-group agg."""
    d = T(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).alias("ws_tokens"),
        F.sum(F.size(F.regexp_extract_all("text", F.lit("[a-z]+"), F.lit(0)))).alias(
            "re_tokens"
        ),
        F.sum(
            F.size(F.regexp_extract_all("text", F.lit("[a-z]{1,4}"), F.lit(0)))
        ).alias("re_pieces"),
    )


@query(
    "q_text_cosine_sparse",
    oracle="""
    WITH tf AS (
        SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents WHERE doc_id < 40)
        GROUP BY doc_id, tok
    ),
    norm AS (
        SELECT doc_id, CAST(SUM(tf * tf) AS BIGINT) AS n2
        FROM tf GROUP BY doc_id
    ),
    dots AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(SUM(a.tf * b.tf) AS BIGINT) AS dot
        FROM tf a JOIN tf b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY doc_a, doc_b
    )
    SELECT doc_a, doc_b,
           ROUND(dot / (SQRT(na.n2) * SQRT(nb.n2)), 6) AS cosine
    FROM dots
    JOIN norm na ON na.doc_id = doc_a
    JOIN norm nb ON nb.doc_id = doc_b
    ORDER BY cosine DESC, doc_a, doc_b
    LIMIT 20
    """,
)
def q_text_cosine_sparse(spark, sf_dir):
    """Sparse term-frequency cosine similarity — the inverted-index
    similarity-join primitive, complementing the dense ``zip_with`` path of
    q_llm_sim_threshold: docs 0–39 become sparse tf vectors (doc, token,
    count), pairwise dot products come from a self-join ON THE TOKEN (an
    inverted-index walk — only token-sharing pairs ever materialize, never
    the full pair matrix), norms join back per doc, top-20 pairs by cosine.
    At corpus scale this is the sparse all-pairs-similarity shape (prefix
    filtering would prune the hottest tokens first); the join shuffles on
    the token key, so stop-token skew is the thing to salt. Counts, dot
    products, and squared norms are exact integers on both engines; the
    cosine is one identical double expression of those integers — bit-equal
    cross-engine — and the top-20 order is pinned by (rounded cosine DESC,
    doc_a, doc_b)."""
    d = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    # the sparse tf index — consumed by the norm table and both join
    # sides; checkpointed so the corpus is exploded once, not per consumer
    tf = _ckpt(
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    norm = tf.groupBy("doc_id").agg(
        F.sum(F.col("tf") * F.col("tf")).alias("n2")
    )
    a = tf.select(
        F.col("doc_id").alias("doc_a"),
        F.col("tok").alias("tok_a"),
        F.col("tf").alias("tf_a"),
    )
    b = tf.select(
        F.col("doc_id").alias("doc_b"),
        F.col("tok").alias("tok_b"),
        F.col("tf").alias("tf_b"),
    )
    dots = (
        a.join(
            b,
            (F.col("tok_a") == F.col("tok_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("tf_a") * F.col("tf_b")).alias("dot"))
    )
    na = norm.select(
        F.col("doc_id").alias("na_id"), F.col("n2").alias("na_n2")
    )
    nb = norm.select(
        F.col("doc_id").alias("nb_id"), F.col("n2").alias("nb_n2")
    )
    return (
        dots.join(F.broadcast(na), F.col("doc_a") == F.col("na_id"))
        .join(F.broadcast(nb), F.col("doc_b") == F.col("nb_id"))
        .select(
            "doc_a",
            "doc_b",
            r6(
                F.col("dot")
                / (F.sqrt(F.col("na_n2")) * F.sqrt(F.col("nb_n2")))
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "doc_a", "doc_b")
        .limit(20)
    )


@query(
    "q_text_hapax",
    oracle="""
    WITH tok AS (
        SELECT lang, UNNEST(string_split(text, ' ')) AS token
        FROM documents
    ), counts AS (
        SELECT lang, token, CAST(COUNT(*) AS DOUBLE) AS cnt
        FROM tok GROUP BY lang, token
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS vocab,
           CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
           ROUND(SUM(CASE WHEN cnt = 1 THEN 1.0 ELSE 0.0 END) / COUNT(*), 6)
               AS hapax_ratio,
           ROUND(COUNT(*) / SUM(cnt), 6) AS type_token_ratio
    FROM counts
    GROUP BY lang
    """,
)
def q_text_hapax(spark, sf_dir):
    """Per-language hapax legomena (tokens occurring exactly once) and
    type-token ratio — the vocabulary-richness profile corpus linguists run
    before sampling training data (a high hapax share predicts OOV pressure
    on the tokenizer). Two aggregations: explode→count per (lang, token),
    then fold the count distribution. The first shuffle carries (lang,
    token) pairs — at 100 TB this is the vocabulary-sized state, orders of
    magnitude below corpus size, and map-side partial aggregation absorbs
    the token stream before the exchange."""
    tok = T(spark, sf_dir, "documents").select(
        "lang", F.explode(F.split("text", " ")).alias("token")
    )
    counts = tok.groupBy("lang", "token").agg(
        F.count(F.lit(1)).cast("double").alias("cnt")
    )
    return counts.groupBy("lang").agg(
        F.count(F.lit(1)).alias("vocab"),
        F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("hapax"),
        r6(
            F.sum(F.when(F.col("cnt") == 1, 1.0).otherwise(0.0))
            / F.count(F.lit(1))
        ).alias("hapax_ratio"),
        r6(F.count(F.lit(1)) / F.sum("cnt")).alias("type_token_ratio"),
    )


@query(
    "q_text_rouge1",
    oracle="""
    WITH toks AS (
        SELECT doc_id // 2 AS pair_id, doc_id % 2 AS side,
               UNNEST(list_distinct(string_split(text, ' '))) AS tok
        FROM documents WHERE doc_id < 20
    ),
    sizes AS (
        SELECT pair_id,
               CAST(COUNT(DISTINCT CASE WHEN side = 0 THEN tok END)
                    AS BIGINT) AS n_ref,
               CAST(COUNT(DISTINCT CASE WHEN side = 1 THEN tok END)
                    AS BIGINT) AS n_cand
        FROM toks GROUP BY pair_id
    ),
    ov AS (
        SELECT pair_id, CAST(COUNT(*) AS BIGINT) AS overlap
        FROM (
            SELECT pair_id, tok FROM toks
            GROUP BY pair_id, tok HAVING COUNT(DISTINCT side) = 2
        ) GROUP BY pair_id
    )
    SELECT s.pair_id, n_ref, n_cand, COALESCE(overlap, 0) AS overlap,
           ROUND(COALESCE(overlap, 0) / n_cand::DOUBLE, 6) AS precision,
           ROUND(COALESCE(overlap, 0) / n_ref::DOUBLE, 6) AS recall,
           ROUND(2.0 * COALESCE(overlap, 0) / (n_ref + n_cand), 6) AS f1
    FROM sizes s LEFT JOIN ov USING (pair_id)
    """,
)
def q_text_rouge1(spark, sf_dir):
    """ROUGE-1-style unigram-set overlap for fixed document pairs (doc 2i as
    reference, doc 2i+1 as candidate, i < 10): distinct-token precision,
    recall, and F1 — the standard summarization/generation eval metric,
    where F1 = 2·overlap/(|ref|+|cand|) is the exact harmonic mean of the
    set precision/recall. The whole computation is keyed by pair_id, so at
    scale it is one shuffle on (pair_id, token) with O(vocab) state per
    pair — the same shape as a sharded eval harness scoring millions of
    generation pairs."""
    toks = (
        T(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 20)
        .select(
            F.expr("doc_id DIV 2").alias("pair_id"),
            (F.col("doc_id") % 2).alias("side"),
            F.explode(
                F.array_distinct(F.split("text", " "))
            ).alias("tok"),
        )
    )
    sizes = toks.groupBy("pair_id").agg(
        F.countDistinct(
            F.when(F.col("side") == 0, F.col("tok"))
        ).alias("n_ref"),
        F.countDistinct(
            F.when(F.col("side") == 1, F.col("tok"))
        ).alias("n_cand"),
    )
    ov = (
        toks.groupBy("pair_id", "tok")
        .agg(F.countDistinct("side").alias("ns"))
        .filter(F.col("ns") == 2)
        .groupBy("pair_id")
        .agg(F.count(F.lit(1)).alias("overlap"))
    )
    j = sizes.join(ov, "pair_id", "left").select(
        "pair_id",
        "n_ref",
        "n_cand",
        F.coalesce("overlap", F.lit(0)).alias("overlap"),
    )
    return j.select(
        "pair_id",
        "n_ref",
        "n_cand",
        "overlap",
        r6(F.col("overlap") / F.col("n_cand")).alias("precision"),
        r6(F.col("overlap") / F.col("n_ref")).alias("recall"),
        r6(2.0 * F.col("overlap") / (F.col("n_ref") + F.col("n_cand"))).alias(
            "f1"
        ),
    )


def _registered_oracle(name: str) -> str:
    # compose an audit oracle out of already-registered oracle SQL so the
    # two sides can never drift apart (ml.py loads before this module)
    from mapreduce_machine_learning_spark.registry import _ORACLES

    return _ORACLES[name]


@query(
    "q_ann_recall",
    oracle=f"""
    WITH exact AS ({_registered_oracle("q_ml_knn")}),
         ivf AS ({_registered_oracle("q_ann_ivf")}),
         lsh AS ({_registered_oracle("q_ann_lsh")})
    SELECT 'ivf' AS method, CAST(10 AS BIGINT) AS k,
           CAST(COUNT(*) AS BIGINT) AS n_hits,
           ROUND(COUNT(*) / 10.0, 6) AS recall
    FROM ivf JOIN exact USING (vec_id)
    UNION ALL
    SELECT 'lsh', CAST(5 AS BIGINT), CAST(COUNT(*) AS BIGINT),
           ROUND(COUNT(*) / 5.0, 6)
    FROM lsh JOIN exact USING (vec_id)
    """,
)
def q_ann_recall(spark, sf_dir):
    """ANN quality audit: recall of the two approximate search paths
    against the exact brute-force top-10 (q_ml_knn) for the same query
    vector — recall@10 for the IVF path, recall@5 for the LSH-bucket path.
    Composes the three REGISTERED queries on both engines (the oracle SQL
    splices the registered oracle texts as CTEs), so the audit can never
    drift from what it audits. This is the measurement loop an ANN index
    needs at 100 TB: recall tells you whether nprobe / band count is set
    right before you pay for the full scan."""
    from mapreduce_machine_learning_spark.operators import ml as _ml

    # each arm's top-k (≤10 rows) is checkpointed before the audit joins:
    # `exact` feeds two comparisons and every arm would otherwise replay
    # its full index pipeline per consumer (12 embeddings scans in the
    # round-2 plan audit; now each arm runs once)
    exact = _ml.q_ml_knn(spark, sf_dir).select("vec_id").transform(_ckpt)
    ivf = q_ann_ivf(spark, sf_dir).select("vec_id").transform(_ckpt)
    lsh = q_ann_lsh(spark, sf_dir).select("vec_id").transform(_ckpt)
    ivf_hits = ivf.join(exact, "vec_id").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    lsh_hits = lsh.join(exact, "vec_id").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    a = ivf_hits.select(
        F.lit("ivf").alias("method"),
        F.lit(10).cast("bigint").alias("k"),
        F.col("n_hits").cast("bigint").alias("n_hits"),
        r6(F.col("n_hits") / 10.0).alias("recall"),
    )
    b = lsh_hits.select(
        F.lit("lsh").alias("method"),
        F.lit(5).cast("bigint").alias("k"),
        F.col("n_hits").cast("bigint").alias("n_hits"),
        r6(F.col("n_hits") / 5.0).alias("recall"),
    )
    return a.unionByName(b)


@query(
    "q_text_bpe_pairs",
    oracle="""
    WITH toks AS (
        SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents
    ),
    pairs AS (
        SELECT substr(tok, i, 2) AS pair
        FROM toks, UNNEST(generate_series(1, length(tok) - 1)) AS g(i)
        WHERE length(tok) >= 2
    )
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair LIMIT 10
    """,
)
def q_text_bpe_pairs(spark, sf_dir):
    """One BPE (byte-pair-encoding) statistics round at the character
    level: count every adjacent symbol pair inside every token occurrence
    across the corpus and rank the top merge candidates — exactly the
    argmax a BPE tokenizer trainer takes per merge iteration (Sennrich et
    al. 2016). The expansion is explode(split) → explode(sequence) —
    all JVM generators — and the count is one map-side-combined groupBy on
    a key space bounded by |alphabet|², so at 100 TB the shuffle carries
    at most a few thousand partial counts per partition regardless of
    corpus size. A full trainer = this query in the iterative-driver loop
    (ml_iterative pattern), re-tokenizing with the merged symbol each
    round."""
    toks = T(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("tok")
    )
    return (
        toks.filter(F.length("tok") >= 2)
        .select(
            F.explode(
                F.sequence(F.lit(1), F.length("tok") - 1)
            ).alias("i"),
            "tok",
        )
        .select(F.expr("substr(tok, i, 2)").alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(10)
    )


@query(
    "q_text_symspell",
    oracle="""
    WITH vocab AS (
        SELECT DISTINCT UNNEST(string_split(text, ' ')) AS tok
        FROM documents
    ),
    variants AS (
        SELECT DISTINCT tok, v FROM (
            SELECT tok, tok AS v FROM vocab
            UNION ALL
            SELECT tok,
                   UNNEST(list_transform(
                       range(1, length(tok) + 1),
                       i -> substr(tok, 1, i - 1)
                            || substr(tok, i + 1, length(tok))))
                   AS v
            FROM vocab
        )
    ),
    cand AS (
        SELECT DISTINCT a.tok AS tok_a, b.tok AS tok_b
        FROM variants a JOIN variants b
          ON a.v = b.v AND a.tok < b.tok
    )
    SELECT tok_a, tok_b,
           CAST(levenshtein(tok_a, tok_b) AS BIGINT) AS dist
    FROM cand
    WHERE levenshtein(tok_a, tok_b) <= 1
    """,
)
def q_text_symspell(spark, sf_dir):
    """SymSpell-style fuzzy vocabulary join: every token emits itself plus
    its length-1 deletion variants as blocking keys; two tokens within
    edit distance 1 PROVABLY share a variant (equal → same key; insert/
    delete → one is the other's deletion; substitution → deleting the
    differing position from both collides), so the equi-join on variants
    finds every distance-≤1 pair with zero recall loss and the
    levenshtein check only confirms. This is the scalable shape of fuzzy
    matching: candidate generation is a map (≤ len+1 variants per term)
    and the join is a plain shuffle on short strings — no quadratic block
    scan, which is what the first-char-blocked q_str_fuzzy degrades to on
    skewed blocks. Deletion dictionaries are how SymSpell beats BK-trees
    at scale; here the 'dictionary' is just a DataFrame."""
    # the deletion dictionary is built from vocab twice (identity +
    # deletion variants) and probed from both join sides — checkpoints
    # keep the corpus explode and the variant build to one pass each
    vocab = _ckpt(
        T(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("tok"))
        .distinct()
    )
    deletions = vocab.select(
        "tok",
        F.explode(
            F.expr(
                "transform(sequence(1, length(tok)),"
                " i -> concat(substr(tok, 1, i - 1),"
                " substr(tok, i + 1, length(tok))))"
            )
        ).alias("v"),
    )
    variants = _ckpt(
        vocab.select("tok", F.col("tok").alias("v"))
        .unionByName(deletions)
        .distinct()
    )
    a, b = variants.alias("a"), variants.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.v") == F.col("b.v"))
            & (F.col("a.tok") < F.col("b.tok")),
        )
        .select(
            F.col("a.tok").alias("tok_a"), F.col("b.tok").alias("tok_b")
        )
        .distinct()
    )
    dist = F.levenshtein("tok_a", "tok_b")
    return cand.filter(dist <= 1).select(
        "tok_a", "tok_b", dist.cast("bigint").alias("dist")
    )


@query(
    "q_text_lang_overlap",
    oracle="""
    WITH vocab AS (
        SELECT DISTINCT lang, UNNEST(string_split(text, ' ')) AS tok
        FROM documents
    ),
    sizes AS (
        SELECT lang, COUNT(*)::DOUBLE AS v FROM vocab GROUP BY lang
    ),
    inter AS (
        SELECT a.lang AS lang_a, b.lang AS lang_b,
               COUNT(*)::DOUBLE AS common
        FROM vocab a JOIN vocab b
          ON a.tok = b.tok AND a.lang < b.lang
        GROUP BY 1, 2
    )
    SELECT lang_a, lang_b,
           CAST(common AS BIGINT) AS common_tokens,
           ROUND(common / (sa.v + sb.v - common), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.lang = lang_a
    JOIN sizes sb ON sb.lang = lang_b
    """,
)
def q_text_lang_overlap(spark, sf_dir):
    """Cross-language vocabulary overlap: Jaccard similarity between each
    language pair's token vocabularies — the corpus-comparison pass that
    detects language mislabeling and script sharing before language-
    filtered training splits are trusted (two 'different' languages with
    Jaccard ≈ 1 means the lang column is noise, which q_text_langid then
    adjudicates). The vocab census collapses the corpus to O(langs·vocab)
    rows, the token-keyed self-join explodes only within shared tokens,
    and sizes broadcast back — the same census/pairs/normalize shape as
    item-CF, applied to vocabularies."""
    # the census — consumed by the size table and both self-join sides;
    # checkpointed so the corpus is exploded once
    vocab = _ckpt(
        T(spark, sf_dir, "documents")
        .select("lang", F.explode(F.split("text", " ")).alias("tok"))
        .distinct()
    )
    sizes = vocab.groupBy("lang").agg(
        F.count(F.lit(1)).cast("double").alias("v")
    )
    a, b = vocab.alias("a"), vocab.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.lang") < F.col("b.lang")),
        )
        .groupBy(
            F.col("a.lang").alias("lang_a"), F.col("b.lang").alias("lang_b")
        )
        .agg(F.count(F.lit(1)).cast("double").alias("common"))
    )
    sa = sizes.select(F.col("lang").alias("lang_a"), F.col("v").alias("va"))
    sb = sizes.select(F.col("lang").alias("lang_b"), F.col("v").alias("vb"))
    return (
        inter.join(F.broadcast(sa), "lang_a")
        .join(F.broadcast(sb), "lang_b")
        .select(
            "lang_a",
            "lang_b",
            F.col("common").cast("bigint").alias("common_tokens"),
            r6(
                F.col("common")
                / (F.col("va") + F.col("vb") - F.col("common"))
            ).alias("jaccard"),
        )
    )


@query(
    "q_text_novelty",
    oracle="""
    WITH shingles AS (
        SELECT DISTINCT doc_id, lang,
               UNNEST(list_transform(
                   range(1, len(string_split(text, ' ')) - 1),
                   i -> string_split(text, ' ')[i] || ' '
                        || string_split(text, ' ')[i + 1] || ' '
                        || string_split(text, ' ')[i + 2]))
                   AS shingle
        FROM documents
    ),
    first_seen AS (
        SELECT shingle, MIN(doc_id) AS first_doc
        FROM shingles GROUP BY shingle
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           ROUND(SUM(CASE WHEN first_doc = doc_id THEN 1.0 ELSE 0.0 END)
                 / COUNT(*), 6) AS novelty_rate
    FROM shingles JOIN first_seen USING (shingle)
    GROUP BY lang
    """,
)
def q_text_novelty(spark, sf_dir):
    """N-gram novelty audit: for each language, the fraction of distinct
    per-doc 3-gram shingles that are INTRODUCED by that doc (no
    lower-doc_id document contains them) — the streaming-corpus view of
    duplication, and the measurement behind 'how much of the new crawl is
    actually new'. A novelty rate collapsing toward 0 as doc_id grows is
    the saturation signal that more data from this source stops paying.
    Plan shape (optimization r13): ONE pass over the shingle stream.
    MIN(doc_id) per shingle is a window aggregate over the same
    shingle-keyed exchange the census already needs — the r12 form
    derived the shingle stream twice (4 parquet scans of documents in
    the physical plan: once under the census, once under the
    MIN-per-shingle aggregate, with a shingle-keyed join to glue them
    back — 6 shuffles, measured 5.0 s cold at sf0.1). Here the exploded
    stream is repartitioned by `shingle` once; the per-(doc, shingle)
    dedup and the window MIN are then both partition-local (guide §2.4:
    two operations keyed the same way share one exchange), and the
    per-lang roll-up moves only language-level rows. 1 scan, 2
    shuffles, measured 1.0 s cold — identical values (the window MIN
    over the deduped rows IS first_seen's MIN; the novel flag compares
    the same integers)."""
    # tokenize ONCE per row into a projected array column: the r12 form
    # re-ran split(text) three times per shingle ELEMENT inside the
    # transform lambda (no common-subexpression elimination across
    # lambda-scoped expressions), which made shingling O(tokens²) per
    # doc and dominated the 5 s wall — hoisted, the lambda only indexes
    # the array (measured 4.0 → 0.9 s cold at sf0.1)
    toks = F.split("text", " ")
    sh = F.expr(
        "transform(sequence(1, size(toks) - 2),"
        " i -> concat_ws(' ', toks[i-1], toks[i], toks[i+1]))"
    )
    shingles = (
        T(spark, sf_dir, "documents")
        .filter(F.size(toks) >= 3)
        .select("doc_id", "lang", toks.alias("toks"))
        .select("doc_id", "lang", F.explode(sh).alias("shingle"))
        .repartition(F.col("shingle"))
        .dropDuplicates(["doc_id", "lang", "shingle"])
    )
    first_doc = F.min("doc_id").over(Window.partitionBy("shingle"))
    novel_flag = first_doc == F.col("doc_id")
    novel = F.when(novel_flag, 1).otherwise(0)
    return (
        shingles.select("lang", novel.alias("novel"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum("novel").cast("bigint").alias("n_novel"),
            r6(
                F.sum(F.col("novel").cast("double")) / F.count(F.lit(1))
            ).alias("novelty_rate"),
        )
    )


@query(
    "q_text_vocab_growth",
    oracle="""
    WITH bounds AS (
        SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM documents
    ),
    toks AS (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
        FROM documents
    ),
    first_seen AS (
        SELECT tok, MIN(doc_id) AS first_doc FROM toks GROUP BY tok
    ),
    cps AS (
        SELECT UNNEST(generate_series(1, 10)) AS checkpoint
    ),
    curve AS (
        SELECT checkpoint,
               lo + CAST(FLOOR((hi - lo + 1) * checkpoint / 10.0)
                         AS BIGINT) - 1 AS cutoff
        FROM cps, bounds
    )
    SELECT CAST(checkpoint AS BIGINT) AS checkpoint,
           CAST(cutoff AS BIGINT) AS cutoff_doc,
           CAST((SELECT COUNT(*) FROM first_seen f
                 WHERE f.first_doc <= c.cutoff) AS BIGINT) AS vocab_size
    FROM curve c
    """,
)
def q_text_vocab_growth(spark, sf_dir):
    """Vocabulary growth curve (the empirical Heaps'-law plot): distinct
    tokens accumulated after each 10% of the corpus in doc_id order —
    the saturation diagnostic that says whether crawling MORE of this
    source still buys vocabulary (flat curve = q_text_novelty's verdict,
    seen cumulatively). The trick that makes it one pass instead of 10:
    a token's contribution to every checkpoint is determined by its
    FIRST document, so MIN(doc_id) per token + a ≤-cutoff count per
    checkpoint replaces ten distinct-counts over growing prefixes — at
    100 TB that is one shuffle on the token key versus ten."""
    d = T(spark, sf_dir, "documents")
    bounds = d.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    )
    first_seen = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    cps = d.sparkSession.range(1, 11).select(
        F.col("id").cast("int").alias("checkpoint")
    )
    curve = cps.crossJoin(F.broadcast(bounds)).select(
        "checkpoint",
        (
            F.col("lo")
            + F.floor(
                (F.col("hi") - F.col("lo") + 1) * F.col("checkpoint") / 10.0
            ).cast("bigint")
            - 1
        ).alias("cutoff"),
    )
    return (
        curve.join(
            first_seen, F.col("first_doc") <= F.col("cutoff"), "left"
        )
        .groupBy("checkpoint", "cutoff")
        .agg(F.count("tok").alias("vocab_size"))
        .select(
            F.col("checkpoint").cast("bigint").alias("checkpoint"),
            F.col("cutoff").cast("bigint").alias("cutoff_doc"),
            F.col("vocab_size").cast("bigint").alias("vocab_size"),
        )
    )
