"""Training-data pipeline queries (dedup / similarity / multimodal /
text analysis) with DuckDB oracle SQL.

Duplicates are synthesized deterministically (both engines compute the
same UNION): exact copies at doc_id+1000000 for doc_id % 7 = 0, mutated
near-copies at doc_id+2000000 for doc_id % 11 = 0.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions import text_analysis as TA
from .operators import dedup as DD
from .operators import media as MD
from .operators import similarity as SIM


def _docs(spark: SparkSession, sf_dir: str,
          *, fanout: bool) -> DataFrame:
    from .queries import ensure_session_conf, scan_fanout

    ensure_session_conf(spark)
    path = f"{sf_dir}/documents.parquet"
    # per-row text work (shingling/regex/token kernels) dominates most
    # consumers; fan out when the file's row groups can't fill the
    # cores. Consumers whose per-row work is lighter than the text
    # shuffle (exact dedup: normalize+md5 only) opt out.
    df = spark.read.parquet(path)
    return scan_fanout(df, path) if fanout else df


def _emb(spark: SparkSession, sf_dir: str,
         *, fanout: bool) -> DataFrame:
    from .queries import ensure_session_conf, scan_fanout

    ensure_session_conf(spark)
    path = f"{sf_dir}/embeddings.parquet"
    # 64-dim dot products / hyperplane projections per row dominate
    # most consumers; IVF (already shuffle-bound by its cell joins)
    # opts out — measured slower with the extra exchange at 10x, a tie
    # at 1x
    df = spark.read.parquet(path)
    return scan_fanout(df, path) if fanout else df


def _docs_with_dups(spark: SparkSession, sf_dir: str,
                    *, fanout: bool) -> DataFrame:
    base = _docs(spark, sf_dir, fanout=fanout).select("doc_id", "text")
    exact = (
        base.filter(F.col("doc_id") % 7 == 0)
        .select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    near = (
        base.filter(F.col("doc_id") % 11 == 0)
        .select(
            (F.col("doc_id") + 2000000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" extra tail words")).alias(
                "text"),
        )
    )
    return base.unionAll(exact).unionAll(near)


_DOCS_DUPS_SQL = """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents
  WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, text || ' extra tail words' AS text
  FROM documents WHERE doc_id % 11 = 0
"""

_NORM_SQL = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

_SHINGLES_SQL = f"""
  CASE WHEN len(string_split({_NORM_SQL}, ' ')) >= 3
       THEN list_transform(
              range(1, len(string_split({_NORM_SQL}, ' ')) - 1),
              i -> string_split({_NORM_SQL}, ' ')[i] || ' ' ||
                   string_split({_NORM_SQL}, ' ')[i+1] || ' ' ||
                   string_split({_NORM_SQL}, ' ')[i+2])
       ELSE [array_to_string(string_split({_NORM_SQL}, ' '), ' ')]
  END
"""


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def q_dedup_exact(spark, sf_dir):
    # fanout=False: the only per-row work before the (16-byte-hash)
    # groupBy is normalize+md5 — cheaper than round-robin-shuffling the
    # full text (A/B at 1x and 10x: 1.76 -> 0.80 s at 10x)
    return DD.exact_dedup_stats(_docs_with_dups(spark, sf_dir,
                                                fanout=False))


SQL_DEDUP_EXACT = f"""
WITH docs AS ({_DOCS_DUPS_SQL}),
fp AS (SELECT md5({_NORM_SQL}) AS h FROM docs),
g AS (SELECT h, count(*) AS c FROM fp GROUP BY h)
SELECT count(*) AS n_distinct,
       CAST(sum(c) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_groups,
       CAST(sum(CASE WHEN c > 1 THEN c - 1 ELSE 0 END) AS BIGINT)
         AS n_removable
FROM g
"""


# ---------------------------------------------------------------------------
# MinHash + LSH candidate pairs
# ---------------------------------------------------------------------------


def q_minhash_lsh(spark, sf_dir):
    return DD.lsh_candidate_pairs(
        _docs_with_dups(spark, sf_dir, fanout=True)
    ).orderBy("doc_a", "doc_b")


def _sig_sql(j: int) -> str:
    return (f"list_aggregate(list_transform(sh, "
            f"s -> md5('{j}:' || s)), 'min')")


_BANDS = [(b, b * 2, b * 2 + 1) for b in range(6)]

SQL_MINHASH_LSH = f"""
WITH docs AS ({_DOCS_DUPS_SQL}),
sh AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM docs),
sig AS (
  SELECT doc_id,
         [{", ".join(_sig_sql(j) for j in range(12))}] AS s
  FROM sh
),
banded AS (
  {" UNION ALL ".join(
      f"SELECT doc_id AS doc, {b} AS band, "
      f"s[{h1 + 1}] || '|' || s[{h2 + 1}] AS key FROM sig"
      for b, h1, h2 in _BANDS)}
)
SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
FROM banded a JOIN banded b
  ON a.band = b.band AND a.key = b.key AND a.doc < b.doc
ORDER BY doc_a, doc_b
"""


# ---------------------------------------------------------------------------
# n-gram Jaccard verification pairs
# ---------------------------------------------------------------------------


def q_ngram_jaccard(spark, sf_dir):
    return DD.ngram_jaccard_pairs(_docs(spark, sf_dir, fanout=True)) \
        .orderBy("doc_a")


SQL_NGRAM_JACCARD = f"""
WITH sh AS (
  SELECT doc_id, list_distinct({_SHINGLES_SQL}) AS sh FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       round(len(list_intersect(a.sh, b.sh))::DOUBLE
             / greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1),
             6) AS jaccard
FROM sh a JOIN sh b ON a.doc_id + 1 = b.doc_id
ORDER BY doc_a
"""


# ---------------------------------------------------------------------------
# SimHash sketches
# ---------------------------------------------------------------------------


def q_simhash(spark, sf_dir):
    df = _docs(spark, sf_dir, fanout=True)
    # Arrow kernel (scale path); the JVM expression form simhash32 is
    # the verification twin (tests/test_properties.py asserts equal
    # bits on the same corpus)
    return DD.simhash32_kernel(df, "doc_id", "text")


SQL_SIMHASH = f"""
WITH norm AS (SELECT doc_id, {_NORM_SQL} AS t FROM documents),
tok AS (SELECT doc_id, unnest(string_split(t, ' ')) AS tk FROM norm),
h AS (SELECT doc_id, md5(tk) AS hx FROM tok),
bits AS (
  SELECT doc_id, p.p AS p,
         sum(CASE WHEN substr(hx, CAST(p.p AS INT), 1) IN
               ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS v
  FROM h, (SELECT unnest(range(1, 33)) AS p) p
  GROUP BY doc_id, p.p
)
SELECT doc_id,
       string_agg(CASE WHEN v > 0 THEN '1' ELSE '0' END, ''
                  ORDER BY p) AS simhash
FROM bits GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# ANN: brute-force cosine top-k (exact baseline)
# ---------------------------------------------------------------------------


def q_ann_cosine_topk(spark, sf_dir):
    emb = _emb(spark, sf_dir, fanout=True)
    queries = emb.filter(F.col("vec_id") < 5)
    return SIM.cosine_topk(emb, queries, k=3).orderBy("query_id", "rn")


SQL_ANN_COSINE = """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 5
), c AS (
  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings
), s AS (
  SELECT query_id, neighbor_id,
         round(CASE WHEN sqrt(list_dot_product(qv, qv))
                         * sqrt(list_dot_product(cv, cv)) > 0
                    THEN list_dot_product(qv, cv)
                         / (sqrt(list_dot_product(qv, qv))
                            * sqrt(list_dot_product(cv, cv)))
                    ELSE 0.0 END, 5) AS sim,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY CASE WHEN sqrt(list_dot_product(qv, qv))
                              * sqrt(list_dot_product(cv, cv)) > 0
                         THEN list_dot_product(qv, cv)
                              / (sqrt(list_dot_product(qv, qv))
                                 * sqrt(list_dot_product(cv, cv)))
                         ELSE 0.0 END DESC, neighbor_id ASC) AS rn
  FROM q, c WHERE neighbor_id != query_id
)
SELECT query_id, neighbor_id, sim, rn FROM s
WHERE rn <= 3 ORDER BY query_id, rn
"""


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


def q_lang_id(spark, sf_dir):
    df = _docs(spark, sf_dir, fanout=True)
    return df.select("doc_id", TA.lang_guess(F.col("text")).alias("guess"))


_ID_PAT = r"\b(" + "|".join(TA.ID_STOPWORDS) + r")\b"
_EN_PAT = r"\b(" + "|".join(TA.EN_STOPWORDS) + r")\b"

SQL_LANG_ID = f"""
WITH t AS (
  SELECT doc_id,
         len(regexp_extract_all(lower(text), '{_ID_PAT}')) AS id_n,
         len(regexp_extract_all(lower(text), '{_EN_PAT}')) AS en_n
  FROM documents
)
SELECT doc_id,
       CASE WHEN id_n > en_n THEN 'id'
            WHEN en_n > id_n THEN 'en'
            ELSE 'unknown' END AS guess
FROM t
"""


def q_quality_score(spark, sf_dir):
    df = _docs(spark, sf_dir, fanout=True)
    return df.select("doc_id",
                     TA.quality_score(F.col("text")).alias("quality"))


_STOP_ALL_PAT = r"\b(" + "|".join(TA.ID_STOPWORDS + TA.EN_STOPWORDS) + r")\b"

SQL_QUALITY = f"""
WITH t AS (
  SELECT doc_id,
         CAST(length(text) AS DOUBLE) AS n,
         CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g'))
              AS DOUBLE) AS alpha,
         CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
              AS DOUBLE) AS punct,
         CAST(len(regexp_extract_all(lower(text), '{_STOP_ALL_PAT}'))
              AS DOUBLE) AS stop,
         CAST(len(string_split_regex(trim(text), '\\s+'))
              AS DOUBLE) AS words
  FROM documents
)
SELECT doc_id,
       round(least(n / 2000.0, 1.0) * 0.35
             + (alpha / greatest(n, 1.0)) * 0.25
             + (1.0 - least(punct * 10.0 / greatest(n, 1.0), 1.0)) * 0.20
             + least(stop / greatest(words * 0.1, 1.0), 1.0) * 0.20,
             6) AS quality
FROM t
"""


def q_token_counts(spark, sf_dir):
    df = _docs(spark, sf_dir, fanout=True)
    tc = TA.token_counts(F.col("text"))
    return df.select(
        "doc_id",
        tc["ws_tokens"].alias("ws_tokens"),
        tc["approx_bpe"].alias("approx_bpe"),
    )


SQL_TOKEN_COUNTS = """
SELECT doc_id,
       len(string_split_regex(trim(text), '\\s+')) AS ws_tokens,
       CAST(ceil(length(text) / 4.0) AS INT) AS approx_bpe
FROM documents
"""


def q_fingerprint(spark, sf_dir):
    df = _docs(spark, sf_dir, fanout=True)
    return df.select("doc_id",
                     TA.fingerprint(F.col("text")).alias("fp16"))


SQL_FINGERPRINT = f"""
SELECT doc_id, substr(md5({_NORM_SQL}), 1, 16) AS fp16
FROM documents
"""


# ---------------------------------------------------------------------------
# Composed corpus curation — the end-to-end training-data shape a real
# user runs: exact dedup (first doc per fingerprint wins) → language ID
# → quality filter → token accounting. Every stage is an already
# oracle-proven primitive; this query gates their COMPOSITION.
# At 100 TB: one shuffle on the 16-byte fingerprint (text never
# shuffles — the window runs where the hash lands), then narrow
# JVM expressions.
# ---------------------------------------------------------------------------


def q_corpus_curation(spark, sf_dir):
    from pyspark.sql.window import Window

    docs = _docs_with_dups(spark, sf_dir, fanout=True)
    # Features (lang/quality/tokens) are computed in the MAP stage,
    # before the fingerprint window: (a) the window then shuffles ~40
    # bytes of metadata per doc instead of the text payload (guide
    # §2.3 — shuffle keys and metadata, not payloads), and (b) the
    # quality filter below references a pre-window attribute, which
    # stops predicate pushdown from re-inlining the regex-heavy quality
    # expression into a second Filter evaluation (it was computed twice
    # per kept row: once in the pushed filter, once in the project).
    # Results are identical: same-fp docs normalize to the same text,
    # and rn=1 still picks the lowest doc_id before the quality cut.
    feats = docs.select(
        "doc_id",
        TA.fingerprint(F.col("text")).alias("fp"),
        TA.lang_guess(F.col("text")).alias("lang"),
        TA.quality_score(F.col("text")).alias("quality"),
        TA.token_counts(F.col("text"))["ws_tokens"].alias("ws_tokens"),
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    kept = (
        feats.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return (
        kept.select("doc_id", "lang", "quality", "ws_tokens")
        .filter(F.col("quality") >= 0.5)
        .orderBy("doc_id")
    )


SQL_CORPUS_CURATION = f"""
WITH docs AS ({_DOCS_DUPS_SQL}),
fp AS (
  SELECT doc_id, text, md5({_NORM_SQL}) AS fp,
         row_number() OVER (PARTITION BY md5({_NORM_SQL})
                            ORDER BY doc_id) AS rn
  FROM docs
),
kept AS (SELECT doc_id, text FROM fp WHERE rn = 1),
feat AS (
  SELECT doc_id,
         len(regexp_extract_all(lower(text), '{_ID_PAT}')) AS id_n,
         len(regexp_extract_all(lower(text), '{_EN_PAT}')) AS en_n,
         CAST(length(text) AS DOUBLE) AS n,
         CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g'))
              AS DOUBLE) AS alpha,
         CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
              AS DOUBLE) AS punct,
         CAST(len(regexp_extract_all(lower(text), '{_STOP_ALL_PAT}'))
              AS DOUBLE) AS stop,
         CAST(len(string_split_regex(trim(text), '\\s+'))
              AS DOUBLE) AS words
  FROM kept
)
SELECT doc_id,
       CASE WHEN id_n > en_n THEN 'id'
            WHEN en_n > id_n THEN 'en'
            ELSE 'unknown' END AS lang,
       round(least(n / 2000.0, 1.0) * 0.35
             + (alpha / greatest(n, 1.0)) * 0.25
             + (1.0 - least(punct * 10.0 / greatest(n, 1.0), 1.0))
               * 0.20
             + least(stop / greatest(words * 0.1, 1.0), 1.0) * 0.20,
             6) AS quality,
       CAST(words AS INT) AS ws_tokens
FROM feat
WHERE round(least(n / 2000.0, 1.0) * 0.35
            + (alpha / greatest(n, 1.0)) * 0.25
            + (1.0 - least(punct * 10.0 / greatest(n, 1.0), 1.0))
              * 0.20
            + least(stop / greatest(words * 0.1, 1.0), 1.0) * 0.20,
            6) >= 0.5
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Multimodal: binary payload → deterministic feature extraction (stub
# decode, real Arrow plumbing)
# ---------------------------------------------------------------------------


def q_media_features(spark, sf_dir):
    # fanout=False: header sniff + byte stats per payload are cheaper
    # than the round-robin text shuffle (order-alternating A/B, 1x and
    # 10x: off wins ~0.3-0.4 s at both)
    df = _docs(spark, sf_dir, fanout=False).select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload"))
    return MD.extract_media_features(df).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_bytes", "tag", "f0", "f1", "f2", "f3",
    ).orderBy("doc_id")


SQL_MEDIA_FEATURES = """
WITH t AS (SELECT doc_id, text, md5(text) AS h FROM documents)
SELECT doc_id,
       CAST(octet_length(encode(text)) AS INT) AS n_bytes,
       substr(h, 1, 8) AS tag,
       CAST(strpos('0123456789abcdef', substr(h, 1, 1)) - 1 AS INT) AS f0,
       CAST(strpos('0123456789abcdef', substr(h, 2, 1)) - 1 AS INT) AS f1,
       CAST(strpos('0123456789abcdef', substr(h, 3, 1)) - 1 AS INT) AS f2,
       CAST(strpos('0123456789abcdef', substr(h, 4, 1)) - 1 AS INT) AS f3
FROM t ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Embedding statistics (norms per label — scan + agg over vectors)
# ---------------------------------------------------------------------------


def q_embedding_norms(spark, sf_dir):
    from .queries import ensure_session_conf

    ensure_session_conf(spark)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    v = F.col("embedding").cast("array<double>")
    return (
        emb.select("label", SIM.norm(v).alias("nrm"))
        .groupBy("label")
        .agg(F.count("*").alias("n"),
             F.round(F.avg("nrm"), 4).alias("avg_norm"))
        .orderBy("label")
    )


SQL_EMBEDDING_NORMS = """
SELECT label, count(*) AS n,
       round(avg(sqrt(list_dot_product(
         CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))), 4)
         AS avg_norm
FROM embeddings GROUP BY label ORDER BY label
"""


# ---------------------------------------------------------------------------
# Multimodal P1-P3 end-to-end: synthesize a deterministic IMG1 payload
# per document, decode it, and run the REAL numpy quality math
# (Laplacian variance / mean / std → threshold flags). The DuckDB
# oracle predicts the flags from the same doc_id-derived generation
# parameters — every regime sits far from its threshold (crisp
# lap≈4800 vs 80; blurred ≈13; flat =0; std 42 vs 30 vs 10.5), so the
# comparison is exact. Flat images additionally check the decoded pixel
# mean against its closed form (mean == bg exactly).
# ---------------------------------------------------------------------------


def q_media_quality(spark, sf_dir):
    import pandas as pd

    from .queries import ensure_session_conf

    ensure_session_conf(spark)
    # Every per-doc output (codec roundtrip, quality flags, orientation
    # vote) is a pure function of a SMALL parameter tuple derived from
    # doc_id — ≤ ~1.2k distinct tuples regardless of corpus size. Same
    # plan-level dedup as media_geometry: distinct() the tuple (a tiny
    # ids-only shuffle), run the JPEG codec / vote ONCE per distinct
    # tuple spread across the cluster, broadcast the feature table back
    # onto the doc stream (which never shuffles). The earlier form ran
    # the full codec work per DOCUMENT (50k executions at sf1.0 for
    # ~1.2k distinct computations).
    #
    # Key components (mirroring the branch structure below): m = i%8
    # picks the regime; bgk is the background residue (i%16 flat, i%11
    # striped); r3k the container rotation (flat regimes only); rot/pol
    # the orientation/polarity regimes (sharp cards only); polk the
    # extra i%6 residue only the pol==2 card uses. Irrelevant
    # components are pinned to -1 so the tuple space stays minimal.
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id")
        .withColumn("m", (F.col("doc_id") % 8).cast("int"))
        .withColumn(
            "bgk",
            F.when(F.col("m") <= 2, F.col("doc_id") % 16)
            .otherwise(F.col("doc_id") % 11).cast("int"))
        .withColumn(
            "r3k",
            F.when(F.col("m") <= 2,
                   F.expr("CAST((doc_id div 8) % 3 AS INT)"))
            .otherwise(F.lit(-1)))
        .withColumn(
            "rot",
            F.when(F.col("m") >= 5,
                   F.expr("CAST((doc_id div 8) % 4 AS INT)"))
            .otherwise(F.lit(-1)))
        .withColumn(
            "pol",
            F.when(F.col("m") >= 5,
                   F.expr("CAST((doc_id div 32) % 3 AS INT)"))
            .otherwise(F.lit(-1)))
        .withColumn(
            "polk",
            F.when((F.col("m") >= 5) & (F.col("pol") == 2),
                   (F.col("doc_id") % 6).cast("int"))
            .otherwise(F.lit(-1)))
    )
    keys = ["m", "bgk", "r3k", "rot", "pol", "polk"]
    combos = (docs.select(*keys).distinct()
              .repartition(2 * spark.sparkContext.defaultParallelism))

    def gen(batches):
        from .operators import image_ops as I

        for pdf in batches:
            rows = []
            for m, bgk, r3k, rot, pol, polk in zip(
                    pdf["m"], pdf["bgk"], pdf["r3k"], pdf["rot"],
                    pdf["pol"], pdf["polk"]):
                m, bgk, r3k = int(m), int(bgk), int(r3k)
                rot, pol, polk = int(rot), int(pol), int(polk)
                if m <= 1:
                    img = I.synth_card(bg=35 + bgk, n_stripes=0)
                elif m == 2:
                    img = I.synth_card(bg=225 + bgk, n_stripes=0)
                elif m <= 4:
                    img = I.synth_card(bg=115 + bgk, n_stripes=8,
                                       blur_k=7)
                else:
                    img = I.synth_card(bg=115 + bgk, n_stripes=8)
                # container regime: flat cards rotate between the IMG1
                # wire format, a REAL baseline JPEG, and a REAL
                # progressive JPEG (SOF2 — spectral selection + DC/AC
                # successive approximation). Quality 100 → all-ones
                # tables → a constant image is DC-only and round-trips
                # bit-exactly in BOTH JPEG processes, so the
                # closed-form flat_mean oracle still holds on the
                # decoded pixels.
                if m <= 2 and r3k == 1:
                    fmt = "jpeg"
                    payload = I.encode_jpeg(img, quality=100)
                elif m <= 2 and r3k == 2:
                    fmt = "jpeg_prog"
                    payload = I.encode_jpeg_progressive(img, quality=100)
                else:
                    fmt = "img1"
                    payload = I.encode_img1(img)
                dec = I.decode_any(payload)
                lap = I.laplacian_variance(dec)
                mean, std = I.brightness_contrast(dec)
                fl = I.quality_flags(lap, mean, std)
                # P8 orientation regime on the sharp cards: rotate an
                # asymmetric (header) card by a doc-determined angle and
                # report the angle the upright vote picks to undo it
                detected = None
                if m >= 5:
                    applied = 90 * rot
                    # polarity regimes (P8 hardening): normal dark-on-
                    # light, inverted-contrast, and low-ink cards must
                    # all vote the same undo angle. bg=40+i%8 on the
                    # inverted card: i%8 == m on this branch.
                    if pol == 1:
                        card = I.synth_card(bg=40 + m, n_stripes=5,
                                            fg=230, header=True)
                    elif pol == 2:
                        bg2 = 121 + polk
                        card = I.synth_card(bg=bg2, n_stripes=5,
                                            fg=bg2 - 12, header=True)
                    else:
                        card = I.synth_card(bg=115 + bgk, n_stripes=5,
                                            header=True)
                    detected = I.orient_vote(I.rotate90(card, applied))
                rows.append((
                    m, bgk, r3k, rot, pol, polk,
                    fmt, dec.shape[0], dec.shape[1],
                    fl["is_blurry"], fl["is_very_blurry"], fl["is_dark"],
                    fl["is_overexposed"], fl["is_low_contrast"],
                    int(round(mean)) if m <= 2 else None,
                    detected,
                ))
            yield pd.DataFrame(rows, columns=[
                "m", "bgk", "r3k", "rot", "pol", "polk",
                "fmt", "h", "w", "is_blurry", "is_very_blurry",
                "is_dark", "is_overexposed", "is_low_contrast",
                "flat_mean", "detected_rot"])

    feat = combos.mapInPandas(
        gen,
        "m int, bgk int, r3k int, rot int, pol int, polk int, "
        "fmt string, h int, w int, is_blurry boolean, "
        "is_very_blurry boolean, is_dark boolean, "
        "is_overexposed boolean, is_low_contrast boolean, "
        "flat_mean int, detected_rot int",
    )
    return (
        docs.join(F.broadcast(feat), keys)
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "fmt", "h", "w", "is_blurry", "is_very_blurry", "is_dark",
            "is_overexposed", "is_low_contrast", "flat_mean",
            "detected_rot",
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Main-content extraction (north rule: HTML boilerplate strip, PDF
# parse, DOM heuristics): deterministic fixture pages/PDFs wrap each
# document's text in boilerplate (link-only nav/ads/footer, teaser
# blocks; Flate-compressed PDF content streams on even ids), and the
# REAL extractors (operators/content_extract.py) must recover exactly
# the main text. The oracle rebuilds the expected string in closed
# form: 10-word paragraphs; for HTML, paragraphs under 25 chars drop —
# the extractor's own min-length boilerplate rule, modelled in SQL.
# ---------------------------------------------------------------------------

_CHUNKS_SQL = """
  list_transform(
    range(0, CAST(ceil(len(string_split(text, ' ')) / 10.0) AS BIGINT)),
    g -> array_to_string(
           list_slice(string_split(text, ' '), g * 10 + 1,
                      least((g + 1) * 10,
                            len(string_split(text, ' ')))), ' '))
"""


def _docs_text_parallel(spark, sf_dir):
    from .queries import ensure_session_conf

    ensure_session_conf(spark)
    return (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text")
            .repartition(spark.sparkContext.defaultParallelism))


def q_html_main_content(spark, sf_dir):
    import pandas as pd

    from .operators import content_extract as CE

    def synth(batches):
        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "html": [CE.synth_html(int(i), t) for i, t in
                         zip(pdf["doc_id"], pdf["text"])],
            })

    pages = _docs_text_parallel(spark, sf_dir).mapInPandas(
        synth, "doc_id long, html string")
    return CE.html_main_content(pages).orderBy("doc_id")


SQL_HTML_MAIN_CONTENT = f"""
SELECT doc_id,
       array_to_string(
         list_filter({_CHUNKS_SQL}, p -> length(p) >= 25),
         chr(10)) AS main_text
FROM documents ORDER BY doc_id
"""


def q_pdf_text(spark, sf_dir):
    import pandas as pd

    from .operators import content_extract as CE

    def synth(batches):
        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "payload": [CE.synth_pdf(int(i), t) for i, t in
                            zip(pdf["doc_id"], pdf["text"])],
            })

    pdfs = _docs_text_parallel(spark, sf_dir).mapInPandas(
        synth, "doc_id long, payload binary")
    return CE.pdf_text(pdfs).orderBy("doc_id")


SQL_PDF_TEXT = f"""
SELECT doc_id,
       array_to_string({_CHUNKS_SQL}, chr(10)) AS pdf_text
FROM documents ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Multimodal audio/video: deterministic VID1/AUD1 payload columns →
# the real frame-sample / audio-feature operators (media_av.py). The
# oracle regenerates the identical media: video frames are flat (mean
# = background, closed form per (doc, frame)); audio features are
# integer arithmetic over the same quantized PCM the SQL re-derives
# sample-by-sample (floor(x+0.5) quantization — engine-portable
# halfway semantics; verified bit-exact vs numpy).
# ---------------------------------------------------------------------------


def _docs_ids_parallel(spark, sf_dir):
    from .queries import ensure_session_conf

    ensure_session_conf(spark)
    return (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id")
            .repartition(spark.sparkContext.defaultParallelism))


def q_video_frames(spark, sf_dir):
    import pandas as pd

    from .operators import media_av as AV

    def synth(batches):
        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "payload": [AV.synth_video(int(i))
                            for i in pdf["doc_id"]],
            })

    vids = _docs_ids_parallel(spark, sf_dir).mapInPandas(
        synth, "doc_id long, payload binary")
    return AV.frame_sample(vids, every_k=2) \
        .orderBy("doc_id", "frame_idx")


SQL_VIDEO_FRAMES = """
SELECT doc_id, CAST(u.j AS INT) AS frame_idx, 32 AS h, 48 AS w,
       CAST(4 * (40 + (doc_id * 7 + u.j * 13) % 180) AS INT) AS mean_q
FROM documents, unnest(range(0, 4 + doc_id % 5)) AS u(j)
WHERE u.j % 2 = 0 ORDER BY doc_id, frame_idx
"""


def q_audio_features(spark, sf_dir):
    import pandas as pd

    from .operators import media_av as AV

    def synth(batches):
        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "payload": [AV.synth_audio(int(i))
                            for i in pdf["doc_id"]],
            })

    auds = _docs_ids_parallel(spark, sf_dir).mapInPandas(
        synth, "doc_id long, payload binary")
    return AV.audio_features(auds).orderBy("doc_id")


SQL_AUDIO_FEATURES = """
WITH p AS (
  SELECT doc_id, 220 + (doc_id % 5) * 110 AS f,
         800 + (doc_id % 4) * 400 AS n
  FROM documents
),
pcm AS (
  SELECT doc_id, f, n,
         list_transform(range(0, n),
           j -> CAST(floor(16383.5 * sin(2 * pi() * f * j / 8000.0
                                         + 0.1) + 0.5) AS BIGINT)) AS q
  FROM p
)
SELECT doc_id, 8000 AS rate, CAST(n AS INT) AS n_samples,
       CAST(floor(1000.0 * n / 8000.0 + 0.5) AS INT) AS duration_ms,
       CAST(len(list_filter(range(1, n),
                j -> q[j] * q[j + 1] < 0)) AS INT) AS zero_crossings,
       CAST(list_max(list_transform(q, x -> abs(x))) AS INT) AS peak,
       CAST(floor(sqrt(CAST(list_sum(list_transform(q, x -> x * x))
                            AS DOUBLE) / n) + 0.5) AS INT) AS rms
FROM pcm ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Multimodal P10-P12 geometry end-to-end: known-skew synthetic cards →
# the REAL estimator/deskew/minimal-path numpy ops; the oracle predicts
# the exact quarter-degree estimator output and the closed-form output
# dimensions. skew_q = round(4·estimate_skew): the estimator evaluates
# a fixed 0.25°-step angle grid, so its output is exact grid points —
# deterministic per applied angle, independent of the background level.
# ---------------------------------------------------------------------------


def q_media_geometry(spark, sf_dir):
    import pandas as pd

    from .queries import ensure_session_conf

    ensure_session_conf(spark)
    # The per-doc work is a pure function of the (applied, bg,
    # portrait) combo — ≤55 distinct inputs regardless of corpus size.
    # Group-identical-work-before-expensive-compute, made GLOBAL:
    # distinct() the combo key (a tiny shuffle of 3 ints), run the
    # angle-grid scan / geometry paths ONCE per distinct input spread
    # across the cluster, then broadcast the ≤55-row feature table
    # back onto the doc stream — the doc side never shuffles. The r4
    # version memoized per worker, recomputing every combo on each of
    # the 32 workers; this is the same dedup promoted to the plan
    # level, exactly what a 100 TB run would do.
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id")
        .withColumn(
            "applied",
            F.element_at(
                F.array(F.lit(-6), F.lit(-3), F.lit(3), F.lit(6)),
                (F.col("doc_id") % 4 + 1).cast("int"),
            ),
        )
        .withColumn("bg", (F.col("doc_id") % 11 + 115).cast("int"))
        # portrait is only defined on the dims regime (doc_id%4 == 0);
        # -1 keys the null-dims rows so the join key is never null
        .withColumn(
            "portrait",
            F.expr("CASE WHEN doc_id % 4 = 0 "
                   "THEN CAST((doc_id div 4) % 2 AS INT) "
                   "ELSE -1 END"),
        )
    )
    # 2× parallelism round-robin puts ~one combo per task, so the
    # stage ends at the single heaviest combo, not a pair of them
    combos = (docs.select("applied", "bg", "portrait").distinct()
              .repartition(2 * spark.sparkContext.defaultParallelism))

    def gen(batches):
        from .operators import image_ops as I

        for pdf in batches:
            rows = []
            for applied, bg, portrait in zip(
                    pdf["applied"], pdf["bg"], pdf["portrait"]):
                applied, bg, portrait = int(applied), int(bg), int(portrait)
                card = I.synth_card(bg=bg, n_stripes=8, skew_deg=applied)
                skew_q = int(round(I.estimate_skew(card) * 4))
                p12_h = p12_w = p13_h = p13_w = None
                p10_identity = None
                if portrait >= 0:
                    base = I.synth_card(bg=bg, n_stripes=8)
                    # portrait: the P12 orient stage must undo it —
                    # output dims are orientation-invariant
                    inp = I.rotate90(base, 90) if portrait else base
                    p12 = I.minimal_ktp(inp)
                    p13 = I.smart_sim(base)
                    # P10 gate: flat full-frame card passes through
                    p12_h, p12_w = int(p12.shape[0]), int(p12.shape[1])
                    p13_h, p13_w = int(p13.shape[0]), int(p13.shape[1])
                    p10_identity = bool(
                        I.perspective_correct(base).shape == base.shape)
                rows.append((applied, bg, portrait, skew_q, p12_h,
                             p12_w, p13_h, p13_w, p10_identity))
            yield pd.DataFrame(rows, columns=[
                "applied", "bg", "portrait", "skew_q", "p12_h",
                "p12_w", "p13_h", "p13_w", "p10_identity"])

    feat = combos.mapInPandas(
        gen,
        "applied int, bg int, portrait int, skew_q int, p12_h int, "
        "p12_w int, p13_h int, p13_w int, p10_identity boolean",
    )

    return (
        docs.join(F.broadcast(feat), ["applied", "bg", "portrait"])
        .select(
            "doc_id",
            F.col("applied").alias("applied_deg"),
            "skew_q", "p12_h", "p12_w", "p13_h", "p13_w",
            "p10_identity",
        )
        .orderBy("doc_id")
    )


SQL_MEDIA_GEOMETRY = """
SELECT doc_id,
       CASE doc_id % 4 WHEN 0 THEN -6 WHEN 1 THEN -3
                       WHEN 2 THEN 3 ELSE 6 END AS applied_deg,
       CASE doc_id % 4 WHEN 0 THEN -27 WHEN 1 THEN -9
                       WHEN 2 THEN 9 ELSE 27 END AS skew_q,
       CASE WHEN doc_id % 4 = 0 THEN 707 END AS p12_h,
       CASE WHEN doc_id % 4 = 0 THEN 1040 END AS p12_w,
       CASE WHEN doc_id % 4 = 0 THEN 104 END AS p13_h,
       CASE WHEN doc_id % 4 = 0 THEN 136 END AS p13_w,
       CASE WHEN doc_id % 4 = 0 THEN TRUE END AS p10_identity
FROM documents ORDER BY doc_id
"""


SQL_MEDIA_QUALITY = """
SELECT doc_id,
       CASE WHEN doc_id % 8 <= 2 AND (doc_id // 8) % 3 = 1 THEN 'jpeg'
            WHEN doc_id % 8 <= 2 AND (doc_id // 8) % 3 = 2
                 THEN 'jpeg_prog'
            ELSE 'img1' END AS fmt,
       64 AS h, 96 AS w,
       doc_id % 8 <= 4 AS is_blurry,
       doc_id % 8 <= 4 AS is_very_blurry,
       doc_id % 8 <= 1 AS is_dark,
       doc_id % 8 = 2 AS is_overexposed,
       doc_id % 8 <= 4 AS is_low_contrast,
       CASE WHEN doc_id % 8 <= 1 THEN CAST(35 + doc_id % 16 AS INT)
            WHEN doc_id % 8 = 2 THEN CAST(225 + doc_id % 16 AS INT)
       END AS flat_mean,
       CASE WHEN doc_id % 8 >= 5
            THEN CAST((360 - 90 * ((doc_id // 8) % 4)) % 360 AS INT)
       END AS detected_rot
FROM documents ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# ANN scale path: hyperplane-LSH buckets → candidates → exact re-rank.
# Same md5-derived ±1 planes on both engines; the projection folds
# left in array order on both sides (Spark aggregate / DuckDB
# list_reduce), so bucket bits are bit-identical.
# ---------------------------------------------------------------------------


def q_ann_lsh_bucket(spark, sf_dir):
    emb = _emb(spark, sf_dir, fanout=True)
    queries = emb.filter(F.col("vec_id") < 5)
    return SIM.lsh_topk(emb, queries, k=3).orderBy("query_id", "rn")


_PLANE_SIGN = ("CASE WHEN substr(md5('{t}:{j}:' || (i - 1)), 1, 1) IN "
               "('8','9','a','b','c','d','e','f') "
               "THEN 1.0 ELSE -1.0 END")

_BUCKET_BIT = (
    "CASE WHEN list_reduce(list_transform(range(1, 65), "
    "i -> v[i] * " + _PLANE_SIGN + "), (a, b) -> a + b) > 0 "
    "THEN '1' ELSE '0' END"
)


def _key_sql(t: int, n_planes: int = 4) -> str:
    return " || ".join(
        _BUCKET_BIT.format(t=t, j=j) for j in range(n_planes))


_KEYS_SQL = " UNION ALL ".join(
    f"SELECT vec_id, v, {t} AS tbl, {_key_sql(t)} AS key FROM b"
    for t in range(12))

SQL_ANN_LSH_BUCKET = f"""
WITH b AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), keys AS (
  {_KEYS_SQL}
), q AS (
  SELECT vec_id AS query_id, tbl, key FROM keys WHERE vec_id < 5
), pairs AS (
  SELECT DISTINCT q.query_id, k.vec_id AS neighbor_id
  FROM keys k JOIN q
    ON k.tbl = q.tbl AND k.key = q.key AND k.vec_id != q.query_id
), s AS (
  SELECT p.query_id, p.neighbor_id,
         round(CASE WHEN sqrt(list_dot_product(bq.v, bq.v))
                         * sqrt(list_dot_product(bn.v, bn.v)) > 0
                    THEN list_dot_product(bq.v, bn.v)
                         / (sqrt(list_dot_product(bq.v, bq.v))
                            * sqrt(list_dot_product(bn.v, bn.v)))
                    ELSE 0.0 END, 5) AS sim,
         row_number() OVER (
           PARTITION BY p.query_id
           ORDER BY CASE WHEN sqrt(list_dot_product(bq.v, bq.v))
                              * sqrt(list_dot_product(bn.v, bn.v)) > 0
                         THEN list_dot_product(bq.v, bn.v)
                              / (sqrt(list_dot_product(bq.v, bq.v))
                                 * sqrt(list_dot_product(bn.v, bn.v)))
                         ELSE 0.0 END DESC, p.neighbor_id ASC) AS rn
  FROM pairs p
  JOIN b bn ON bn.vec_id = p.neighbor_id
  JOIN b bq ON bq.vec_id = p.query_id
)
SELECT query_id, neighbor_id, sim, rn FROM s
WHERE rn <= 3 ORDER BY query_id, rn
"""



# ---------------------------------------------------------------------------
# ANN scale path #2: IVF coarse quantization — corpus assigned to its
# argmax-dot centroid cell (the 100-TB partition key), queries probe
# their top-4 cells, exact cosine re-rank inside probed cells. The
# centroids are deterministic md5-derived float64 literals shared with
# the oracle (inlined below), so both engines compute the identical
# assignment (sequential-fold dot = list_dot_product, ties → lowest
# cell).
# ---------------------------------------------------------------------------


def q_ann_ivf(spark, sf_dir):
    # fanout=False: IVF is bounded by its cell-assignment shuffle and
    # probe joins, not the per-row kernel; the extra exchange measured
    # slower at 10x and a tie at 1x
    emb = _emb(spark, sf_dir, fanout=False)
    queries = emb.filter(F.col("vec_id") < 5)
    # n_probe=8 of 16 cells: the testdata embeddings are deliberately
    # unclustered (max pairwise cosine 0.51), so nearest neighbours are
    # near-random and ANY coarse quantizer needs a large probe fraction
    # for recall (measured: 4 probes -> 0.47, 8 -> 0.87); on real
    # clustered embeddings cells align with clusters and n_probe stays
    # small relative to n_cells. The oracle gate checks the machinery
    # exactly either way.
    return SIM.ivf_topk(emb, queries, k=3, n_cells=16, n_probe=8) \
        .orderBy("query_id", "rn")


def _ivf_cent_values() -> str:
    from .operators.similarity import ivf_centroids

    cents = ivf_centroids(16, 64)
    rows = []
    for j in range(16):
        vals = ", ".join(repr(float(x)) for x in cents[j])
        rows.append(f"({j}, [{vals}]::DOUBLE[])")
    return ",\n".join(rows)


SQL_ANN_IVF = f"""
WITH cents(cell, c) AS (VALUES {_ivf_cent_values()}),
b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
ranked AS (
  SELECT b.vec_id, cents.cell,
         row_number() OVER (
           PARTITION BY b.vec_id
           ORDER BY list_dot_product(b.v, cents.c) DESC, cents.cell ASC
         ) AS pr
  FROM b CROSS JOIN cents
),
cassign AS (SELECT vec_id AS neighbor_id, cell FROM ranked WHERE pr = 1),
qassign AS (
  SELECT vec_id AS query_id, cell FROM ranked
  WHERE pr <= 8 AND vec_id < 5
),
pairs AS (
  SELECT DISTINCT q.query_id, ca.neighbor_id
  FROM qassign q
  JOIN cassign ca ON ca.cell = q.cell AND ca.neighbor_id != q.query_id
),
s AS (
  SELECT p.query_id, p.neighbor_id,
         round(CASE WHEN sqrt(list_dot_product(bq.v, bq.v))
                         * sqrt(list_dot_product(bn.v, bn.v)) > 0
                    THEN list_dot_product(bq.v, bn.v)
                         / (sqrt(list_dot_product(bq.v, bq.v))
                            * sqrt(list_dot_product(bn.v, bn.v)))
                    ELSE 0.0 END, 5) AS sim,
         row_number() OVER (
           PARTITION BY p.query_id
           ORDER BY CASE WHEN sqrt(list_dot_product(bq.v, bq.v))
                              * sqrt(list_dot_product(bn.v, bn.v)) > 0
                         THEN list_dot_product(bq.v, bn.v)
                              / (sqrt(list_dot_product(bq.v, bq.v))
                                 * sqrt(list_dot_product(bn.v, bn.v)))
                         ELSE 0.0 END DESC, p.neighbor_id ASC) AS rn
  FROM pairs p
  JOIN b bn ON bn.vec_id = p.neighbor_id
  JOIN b bq ON bq.vec_id = p.query_id
)
SELECT query_id, neighbor_id, sim, rn FROM s
WHERE rn <= 3 ORDER BY query_id, rn
"""


# ---------------------------------------------------------------------------
# Embedding-cosine near-duplicate pairs: hyperplane-LSH buckets →
# candidate pairs (ids-only) → exact cosine verify ≥ 0.9. The testdata
# embeddings are mutually dissimilar (max pairwise cosine 0.51), so
# near-duplicates are PLANTED deterministically: vec_id < 40 get a
# perturbed copy at vec_id + 100000 (per-element + 0.02·((i%5)−2) on
# the double-cast vector — identical IEEE arithmetic on both engines).
# Expected output: exactly the planted (orig, copy) pairs that share
# ≥1 LSH bucket, cosine ≈ 0.999.
# ---------------------------------------------------------------------------


def _emb_with_dups(spark, sf_dir):
    emb = _emb(spark, sf_dir, fanout=True).select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("embedding"))
    dup = emb.filter(F.col("vec_id") < 40).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x, i: x + 0.02 * ((i % 5) - 2)
        ).alias("embedding"),
    )
    return emb.unionByName(dup)


def q_dedup_embedding(spark, sf_dir):
    from .queries import ensure_session_conf

    ensure_session_conf(spark)
    corpus = _emb_with_dups(spark, sf_dir)
    return SIM.embedding_near_dup(corpus, threshold=0.9).orderBy(
        "id_a", "id_b")


SQL_DEDUP_EMBEDDING = f"""
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), b AS (
  SELECT vec_id, v FROM base
  UNION ALL
  SELECT vec_id + 100000,
         list_transform(generate_series(1, len(v)),
                        i -> v[i] + 0.02 * (((i - 1) % 5) - 2))
  FROM base WHERE vec_id < 40
), keys AS (
  {_KEYS_SQL}
), pairs AS (
  SELECT DISTINCT a.vec_id AS id_a, k.vec_id AS id_b
  FROM keys a JOIN keys k
    ON a.tbl = k.tbl AND a.key = k.key AND a.vec_id < k.vec_id
), v AS (
  SELECT p.id_a, p.id_b,
         round(CASE WHEN sqrt(list_dot_product(ba.v, ba.v))
                         * sqrt(list_dot_product(bb.v, bb.v)) > 0
                    THEN list_dot_product(ba.v, bb.v)
                         / (sqrt(list_dot_product(ba.v, ba.v))
                            * sqrt(list_dot_product(bb.v, bb.v)))
                    ELSE 0.0 END, 5) AS sim
  FROM pairs p
  JOIN b ba ON ba.vec_id = p.id_a
  JOIN b bb ON bb.vec_id = p.id_b
)
SELECT id_a, id_b, sim FROM v WHERE sim >= 0.9 ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------------
# Composed dedup pipeline: MinHash-LSH candidate pairs → exact n-gram
# Jaccard verification → confirmed duplicate pairs. This is the actual
# 100-TB dedup shape: the quadratic step happens only inside LSH
# buckets; the verify join ships shingle sets for CANDIDATE ids only
# (a semi-join-pruned shuffle on doc_id), never all-pairs.
# ---------------------------------------------------------------------------


def q_dedup_verified(spark, sf_dir):
    from .functions.text_analysis import word_shingles

    docs = _docs_with_dups(spark, sf_dir, fanout=True)
    # persist the candidate pairs: they feed THREE consumers (both sides
    # of the id union + the verify join), and without reuse the banding
    # mapInPandas + band self-join — the expensive part at 100 TB —
    # re-executes per consumer. The pair set itself is tiny (candidates
    # only), so caching it is the cheap side of the trade.
    pairs = DD.lsh_candidate_pairs(docs).persist()
    # prune the shingle table to candidate ids BEFORE the verify joins:
    # at 100 TB the candidate set is a tiny fraction of the corpus, and
    # without the semi-join the full shingle table (every doc's 3-gram
    # set) would shuffle into both join exchanges.
    cand_ids = (
        pairs.select(F.col("doc_a").alias("d"))
        .unionByName(pairs.select(F.col("doc_b").alias("d")))
        .distinct()
    )
    sh = docs.select(
        F.col("doc_id").alias("d"),
        F.array_distinct(word_shingles(F.col("text"), 3)).alias("sh"),
    ).join(cand_ids, "d", "left_semi")
    j = (
        pairs.join(sh.alias("sa"), F.col("doc_a") == F.col("sa.d"))
        .join(sh.alias("sb"), F.col("doc_b") == F.col("sb.d"))
    )
    inter = F.size(F.array_intersect(F.col("sa.sh"), F.col("sb.sh")))
    union = F.size(F.array_union(F.col("sa.sh"), F.col("sb.sh")))
    jac = inter / F.greatest(union, F.lit(1))
    return (
        j.select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= 0.8)
        .orderBy("doc_a", "doc_b")
    )


SQL_DEDUP_VERIFIED = f"""
WITH docs AS ({_DOCS_DUPS_SQL}),
sh AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM docs),
sig AS (
  SELECT doc_id,
         [{", ".join(_sig_sql(j) for j in range(12))}] AS s
  FROM sh
),
banded AS (
  {" UNION ALL ".join(
      f"SELECT doc_id AS doc, {b} AS band, "
      f"s[{h1 + 1}] || '|' || s[{h2 + 1}] AS key FROM sig"
      for b, h1, h2 in _BANDS)}
),
pairs AS (
  SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.key = b.key AND a.doc < b.doc
),
shin AS (
  SELECT doc_id, list_distinct({_SHINGLES_SQL}) AS sh FROM docs
),
v AS (
  SELECT p.doc_a, p.doc_b,
         round(len(list_intersect(sa.sh, sb.sh))::DOUBLE
               / greatest(len(list_distinct(list_concat(sa.sh, sb.sh))),
                          1), 6) AS jaccard
  FROM pairs p
  JOIN shin sa ON sa.doc_id = p.doc_a
  JOIN shin sb ON sb.doc_id = p.doc_b
)
SELECT doc_a, doc_b, jaccard FROM v
WHERE jaccard >= 0.8 ORDER BY doc_a, doc_b
"""
