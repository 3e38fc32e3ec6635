"""Multimodal near-duplicate detection: perceptual difference-hash over
decoded image payloads, banded Hamming candidates, and a keep-list.

Closes the dedup x multimodal axis (VERDICT r6 #1): the multimodal family
decodes real PPM image payloads (functions/multimodal.py) and the text
dedup family routes near-dup candidates through gated pigeonhole banding
(plans/llm_ops.py dedup_simhash_banded); this module composes the two for
IMAGES — the standard crawl-pipeline stage that drops re-encoded /
lightly-retouched duplicate images before training.

Algorithm (public): perceptual difference hash ("dHash", Krawetz '13 —
the pHash-family member that is pure integer arithmetic, so DuckDB can
reproduce it bit-for-bit): grayscale the raster with the integer BT.601
luma approximation (77 R + 151 G + 28 B) / 256, emit one bit per
horizontally / vertically adjacent pixel comparison, then find pairs
within Hamming distance IMG_MAX_HAMMING via the pigeonhole band equi-join
(Charikar '02 banding exactly as dedup_simhash_banded: any pair at
hamming <= 4 agrees exactly on >= 1 of 5 bit-bands). A one-byte change in
the source raster moves ONE pixel's gray value, which touches at most 2
horizontal + 2 vertical comparisons — so planted near-identical variants
sit at hamming <= 4 by construction while unrelated images scatter
uniformly over the 63-bit space.

Scale shape (100 TB): signatures are a ZERO-EXCHANGE projection over the
payload scan (hex + integer arithmetic, no Python, no UDF); the only
corpus exchange is the (band, bval) bucket hash, count-window gated to
2..IMG_MAX_BUCKET members so no bucket expands more than
IMG_MAX_BUCKET^2 pairs inside one task; the keep-list component loop runs
on the near-dup pair graph, which is tiny relative to the corpus. Plan
pinned by tests/test_plan_shapes.py::test_image_phash_is_gated_band_equijoin.

The fixture images are the 8x6 PPMs with_media_payload() renders from
document bytes (media_type 0, i.e. doc_id % 3 = 0); planted
near-identicals come from a deterministic one-byte text edit (position
41 -> '~') for every doc_id % 9 = 0, unioned under img_id =
doc_id + IMG_VARIANT_OFF. The Spark side hashes the REAL binary payload
(header-offset byte extraction from the PPM raster); the DuckDB oracle
re-derives the same bytes from the document text (the raster IS the
zero-padded text bytes by construction) — two independent derivations of
the same pixels, so the hash gate also re-proves the payload encoding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from streamprocessors_spark.functions import dialect as D
from streamprocessors_spark.functions import multimodal as MM
from streamprocessors_spark.functions.dialect import DUCK, SPARK
from streamprocessors_spark.plans.registry import REGISTRY, register
from streamprocessors_spark.session import read_table
from streamprocessors_spark.storage import durable_frame

IMG_W, IMG_H = MM.PPM_W, MM.PPM_H  # 8 x 6 fixture raster
# Bytes before the raster in the REAL payload: the 12-byte SPMM
# envelope (magic + media_type + body_len) AND the 11-byte P6 header.
# Round-8 fix: the envelope was missing, so the Spark side hashed a
# 12-byte-shifted window (envelope tail + PPM header + first 121 text
# bytes). The planted-variant pair set and hamming counts coincided
# with the text-derived oracle at sf0.01 — the gate only diverged at
# sf0.1 (616 vs 611 pairs, caught by a full tools/compare.py run) — but the
# signatures themselves were never the documented dHash of the pixels.
IMG_HDR_LEN = len(MM.MAGIC) + 8 + len(MM.PPM_HEADER)
IMG_BITS = 63  # 42 horizontal + 21 vertical comparisons (sign-safe)
IMG_MAX_HAMMING = 4
IMG_N_BANDS = IMG_MAX_HAMMING + 1  # pigeonhole: <=4 flips miss >=1 band
IMG_MAX_BUCKET = 50  # same rationale as SIMHASH_MAX_BUCKET
IMG_VARIANT_OFF = 3 * 10**9  # divisible by 3: variant keeps media_type 0

_BAND_BOUNDS = [(i * IMG_BITS) // IMG_N_BANDS for i in range(IMG_N_BANDS + 1)]


def _byte(d: str, i: int, src: str) -> str:
    """Raster byte i (0-based) as BIGINT from a hex-string column.

    Spark reads the real payload (skip the SPMM envelope + P6 header,
    IMG_HDR_LEN bytes; the body is rpad'ed to the full raster, so every
    index exists). DuckDB reads the document text's utf-8 bytes (ASCII
    fixture corpus), where indices past the text zero-pad — matching
    the payload's rpad."""
    if d == SPARK:
        off = IMG_HDR_LEN + i
        return f"cast(conv(substr({src}, {2 * off + 1}, 2), 16, 10) as bigint)"
    return (
        f"coalesce(('0x' || nullif(substr({src}, {2 * i + 1}, 2), ''))"
        f"::BIGINT, 0)"
    )


def _gray(d: str, p: int, src: str) -> str:
    """Integer BT.601 luma of pixel p (0..47): (77R + 151G + 28B) / 256."""
    r = _byte(d, 3 * p, src)
    g = _byte(d, 3 * p + 1, src)
    b = _byte(d, 3 * p + 2, src)
    idiv = "div" if d == SPARK else "//"
    return f"((77 * {r} + 151 * {g} + 28 * {b}) {idiv} 256)"


def _dhash_bits() -> list[tuple[int, int, int]]:
    """(bit_index, pixel_a, pixel_b) triples: bit set iff gray[a] > gray[b].

    42 horizontal comparisons (x, x+1 per row) + the first 21 vertical
    comparisons (y, y+1 per column, row-major) = 63 bits, keeping the
    packed signature strictly positive under signed 64-bit arithmetic."""
    bits = []
    idx = 0
    for y in range(IMG_H):
        for x in range(IMG_W - 1):
            bits.append((idx, y * IMG_W + x + 1, y * IMG_W + x))
            idx += 1
    for y in range(IMG_H - 1):
        for x in range(IMG_W):
            if idx >= IMG_BITS:
                return bits
            bits.append((idx, (y + 1) * IMG_W + x, y * IMG_W + x))
            idx += 1
    return bits


def _hash_from_grays() -> str:
    """63-bit signature as a sum over the g0..g47 gray aliases (shared
    text across dialects — both engines see identical integer columns)."""
    terms = [
        f"(case when g{ga} > g{gb} then {1 << idx} else 0 end)"
        for idx, ga, gb in _dhash_bits()
    ]
    return "(" + " + ".join(terms) + ")"


def images_frame(docs: DataFrame) -> DataFrame:
    """(img_id, text): the corpus image docs (media_type 0) plus planted
    near-identical variants — a deterministic one-byte edit at text
    position 41 for every doc_id % 9 = 0, under img_id + IMG_VARIANT_OFF."""
    base = docs.where("doc_id % 3 = 0").selectExpr(
        "cast(doc_id as bigint) as img_id", "text"
    )
    var = docs.where("doc_id % 9 = 0").selectExpr(
        f"cast(doc_id + {IMG_VARIANT_OFF} as bigint) as img_id",
        "concat(substr(text, 1, 40), '~', substr(text, 42)) as text",
    )
    return base.unionByName(var)


def image_signatures(docs: DataFrame) -> DataFrame:
    """(img_id, h63): dHash signatures via the REAL payload path —
    render the PPM envelope, hex the binary, extract raster bytes with
    integer arithmetic. Pure projection: zero exchanges, zero Python.

    Array-lambda form (transform/aggregate over sequence()): identical
    values to the unrolled 48-gray projection the DuckDB oracle still
    runs, but the collapsed Catalyst tree stays tens of nodes instead
    of thousands — planning+codegen per query drop to milliseconds
    (same rework as audio_signatures below)."""
    payloads = MM.with_media_payload(
        images_frame(docs).withColumnRenamed("img_id", "doc_id")
    )
    # hex of the raster only (past SPMM envelope + 11-byte PPM header)
    hx = payloads.selectExpr(
        "cast(doc_id as bigint) as img_id",
        f"substr(hex(payload), {2 * IMG_HDR_LEN + 1}) as dhx",
    )
    byt = "cast(conv(substr(dhx, {off} + 1, 2), 16, 10) as bigint)"
    g = (
        f"transform(sequence(0, {IMG_W * IMG_H - 1}), p -> "
        f"(77 * {byt.format(off='6 * p')}"
        f" + 151 * {byt.format(off='6 * p + 2')}"
        f" + 28 * {byt.format(off='6 * p + 4')}) div 256)"
    )
    # static bit table: entry b packs (pixel_a * 64 + pixel_b); bit b is
    # set iff gray[a] > gray[b] — the same layout the oracle unrolls
    pairs = ", ".join(str(ga * 64 + gb) for _, ga, gb in _dhash_bits())
    h = (
        f"aggregate(sequence(0, {IMG_BITS - 1}), cast(0 as bigint), "
        f"(acc, b) -> acc + if("
        f"element_at(g, cast(element_at(array({pairs}), b + 1) div 64 + 1 as int)) > "
        f"element_at(g, cast(element_at(array({pairs}), b + 1) % 64 + 1 as int)), "
        "shiftleft(cast(1 as bigint), b), cast(0 as bigint)))"
    )
    return (
        hx.selectExpr("img_id", f"{g} as g")
        .selectExpr("img_id", f"cast({h} as bigint) as h63")
    )


def _band_exprs_spark(sig: str) -> list[str]:
    out = []
    for i in range(IMG_N_BANDS):
        lo, hi = _BAND_BOUNDS[i], _BAND_BOUNDS[i + 1]
        mask = (1 << (hi - lo)) - 1
        out.append(f"(shiftright({sig}, {lo}) & {mask}L)")
    return out


def image_phash_pairs(docs: DataFrame) -> DataFrame:
    """(img_a, img_b, hamming) image near-dup pairs at hamming <=
    IMG_MAX_HAMMING via the gated pigeonhole band equi-join (the
    dedup_simhash_banded machinery: one (band, bval) exchange, count-
    window bucket gate 2..IMG_MAX_BUCKET, both self-join sides projected
    from the same gated frame)."""
    sh = image_signatures(docs)
    bands = sh.select(
        "img_id",
        "h63",
        F.posexplode(
            F.expr("array(" + ", ".join(_band_exprs_spark("h63")) + ")")
        ).alias("band", "bval"),
    )
    w = Window.partitionBy("band", "bval")
    eligible = (
        bands.repartition(
            bands.sparkSession.sparkContext.defaultParallelism, "band", "bval"
        )
        .withColumn("n_ids", F.count(F.lit(1)).over(w))
        .where(F.col("n_ids").between(2, IMG_MAX_BUCKET))
        .select("band", "bval", "img_id", "h63")
    )
    a = eligible.select(
        "band", "bval",
        F.col("img_id").alias("img_a"), F.col("h63").alias("h_a"),
    )
    b = eligible.select(
        "band", "bval",
        F.col("img_id").alias("img_b"), F.col("h63").alias("h_b"),
    )
    return (
        a.join(b, ["band", "bval"])
        .where(F.col("img_a") < F.col("img_b"))
        .selectExpr("img_a", "img_b", "bit_count(h_a ^ h_b) as hamming")
        .where(F.col("hamming") <= IMG_MAX_HAMMING)
        .distinct()
    )


def _sig_cte(d: str) -> str:
    """DuckDB CTEs imgs -> sig re-deriving the signatures from TEXT bytes
    (independent of the payload encoding the Spark side hashes)."""
    assert d == DUCK
    grays = ", ".join(
        f"{_gray(DUCK, p, 'hx')} AS g{p}" for p in range(IMG_W * IMG_H)
    )
    return f"""
    imgs AS (
      SELECT CAST(doc_id AS BIGINT) AS img_id, text
      FROM documents WHERE doc_id % 3 = 0
      UNION ALL
      SELECT CAST(doc_id + {IMG_VARIANT_OFF} AS BIGINT),
             substr(text, 1, 40) || '~' || substr(text, 42)
      FROM documents WHERE doc_id % 9 = 0
    ),
    hxs AS (SELECT img_id, hex(encode(text)) AS hx FROM imgs),
    gs AS (SELECT img_id, {grays} FROM hxs),
    sig AS (SELECT img_id, CAST({_hash_from_grays()} AS BIGINT) AS h63
            FROM gs)"""


def _bands_cte_duck() -> str:
    arms = []
    for i in range(IMG_N_BANDS):
        lo, hi = _BAND_BOUNDS[i], _BAND_BOUNDS[i + 1]
        mask = (1 << (hi - lo)) - 1
        arms.append(
            f"SELECT img_id, h63, {i} AS band, (h63 >> {lo}) & {mask} AS bval"
            f" FROM sig"
        )
    return " UNION ALL ".join(arms)


_PAIRS_ORACLE_BODY = f"""
    bands AS ({{bands}}),
    bsz AS (
      SELECT band, bval FROM bands GROUP BY band, bval
      HAVING count(*) BETWEEN 2 AND {IMG_MAX_BUCKET}
    ),
    cand AS (
      SELECT DISTINCT a.img_id AS img_a, b.img_id AS img_b
      FROM bands a
      JOIN bsz s ON s.band = a.band AND s.bval = a.bval
      JOIN bands b ON b.band = a.band AND b.bval = a.bval
       AND a.img_id < b.img_id
    ),
    prs AS (
      SELECT c.img_a, c.img_b, bit_count(xor(a.h63, b.h63)) AS hamming
      FROM cand c
      JOIN sig a ON a.img_id = c.img_a
      JOIN sig b ON b.img_id = c.img_b
      WHERE bit_count(xor(a.h63, b.h63)) <= {IMG_MAX_HAMMING}
    )"""


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "documents")


# The corpus's verified near-dup IMAGE pair table — the image twin of
# llm_ops.verified_text_pairs (VERDICT r10 #5), now an img_a-clustered
# parquet store loaded from disk in every session (r11 #2): the pair
# table is a persisted per-snapshot artifact; composed consumers
# (image keep-list, multimodal verdict) read it instead of re-running
# the signature+band pipeline. Pair-sized.
def verified_image_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return durable_frame(
        spark,
        sf_dir,
        "image_pairs",
        lambda: image_phash_pairs(_docs(spark, sf_dir)).select(
            "img_a", "img_b"
        ),
        sort_by=("img_a",),
    )


# Image cluster LABELS, durable per corpus (see advanced.text_keep_labels).
def image_keep_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, canonical) over img ids — CC labels of the image pair
    store, the persisted artifact image keep-list consumers read."""
    from streamprocessors_spark.plans.advanced import _min_label_components

    return durable_frame(
        spark,
        sf_dir,
        "image_labels",
        lambda: _min_label_components(
            verified_image_pairs(spark, sf_dir).selectExpr(
                "img_a as doc_a", "img_b as doc_b"
            )
        ),
        sort_by=("doc_id",),
    )


@register(
    "dedup_image_phash",
    oracle=f"""
    WITH {_sig_cte(DUCK)},
    {_PAIRS_ORACLE_BODY.format(bands=_bands_cte_duck())}
    SELECT img_a, img_b, CAST(hamming AS INT) AS hamming FROM prs
    """,
    doc="Image near-duplicate pairs: 63-bit integer dHash over the "
    "decoded PPM raster (BT.601 integer luma, adjacent-pixel comparison "
    "bits), candidates from the gated pigeonhole band equi-join at "
    "hamming <= 4 (see module doc). Spark hashes the real binary "
    "payload; the oracle re-derives the raster from the document text — "
    "independent derivations of the same pixels. Signatures are a "
    "zero-exchange scan projection; the (band, bval) bucket gate bounds "
    "every join task at IMG_MAX_BUCKET^2 pairs.",
    tags=("dedup", "multimodal", "lsh"),
)
def dedup_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return image_phash_pairs(_docs(spark, sf_dir)).selectExpr(
        "img_a", "img_b", "cast(hamming as int) as hamming"
    )


@register(
    "dedup_image_keep_list",
    oracle=f"""
    WITH RECURSIVE {_sig_cte(DUCK)},
    {_PAIRS_ORACLE_BODY.format(bands=_bands_cte_duck())},
    edges AS (
      SELECT img_a AS u, img_b AS v FROM prs
      UNION SELECT img_b, img_a FROM prs
    ),
    reach AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    labels AS (
      SELECT u AS img_id, least(u, min(v)) AS canonical
      FROM reach GROUP BY u
    )
    SELECT i.img_id,
           COALESCE(l.canonical, i.img_id) AS canonical,
           (COALESCE(l.canonical, i.img_id) = i.img_id) AS keep
    FROM imgs i LEFT JOIN labels l ON l.img_id = i.img_id
    """,
    doc="Image dedup keep-list: connected components over the "
    "dedup_image_phash pair graph (pointer-jumping min-label, "
    "plans/advanced.py machinery — O(log diameter) rounds, raises if "
    "un-converged), keep = the min img_id per component. Every image "
    "gets a verdict (singletons keep themselves). Oracle: WITH "
    "RECURSIVE transitive closure over the same gated pairs.",
    tags=("dedup", "multimodal", "iterative"),
)
def dedup_image_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    # read from the per-corpus image pair/label stores (VERDICT r10 #5)
    labels = image_keep_labels(spark, sf_dir).selectExpr(
        "doc_id as l_img", "canonical"
    )
    return (
        images_frame(docs)
        .join(labels, F.col("img_id") == F.col("l_img"), "left")
        .selectExpr(
            "img_id",
            "coalesce(canonical, img_id) as canonical",
            "coalesce(canonical, img_id) = img_id as keep",
        )
    )


@register(
    "stream_image_phash",
    oracle=lambda: REGISTRY["dedup_image_phash"].oracle,
    doc="Incremental image near-dup detection — the streaming twin of "
    "dedup_image_phash and the 'new crawl shard arrives -> dedup its "
    "images against the existing index' deployment shape. The dHash "
    "signature is a stateless projection over each arriving "
    "micro-batch (the same zero-exchange expression as batch); band "
    "bucket membership lives in keyed state via the SAME "
    "lsh_bucket_pairs_stream machinery as stream_dedup_minhash "
    "(buckets saturate at IMG_MAX_BUCKET — state collapses to a "
    "counter), and the exact Hamming verify joins the signature STORE "
    "— a second stateless sink filled on ingest, the way a production "
    "index is built (also the fast plan: verifying against re-derived "
    "signatures re-inlines the dHash lambda through both join "
    "branches, ~50x planning+eval blow-up, measured 155 s -> ~7 s at "
    "sf0.1). Hash-matches the batch oracle wherever no "
    "bucket exceeds the cap (same documented divergence contract as "
    "the MinHash twin).",
    tags=("streaming", "dedup", "multimodal", "lsh"),
)
def stream_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamprocessors_spark.plans.streaming_queries import (  # noqa: PLC0415
        run_available_now_many,
        stream_documents,
    )
    from streamprocessors_spark.streaming.stateful import (
        lsh_bucket_pairs_stream,
    )

    sh = image_signatures(stream_documents(spark, sf_dir, spread=True))
    bands = sh.select(
        F.col("img_id").alias("doc_id"),
        F.posexplode(
            F.expr("array(" + ", ".join(_band_exprs_spark("h63")) + ")")
        ).alias("band", "bh"),
    )
    # The bucket-pair query and the signature-store sink are independent
    # standing queries of the deployment — run both availableNow replays
    # concurrently (guide §2.6; their micro-batch machinery overlaps).
    # Signature store: the same dHash projection, materialized by a
    # stateless sink as documents arrive. The Hamming verify joins the
    # STORED values — joining a re-derived signature frame instead
    # re-inlines the 63-step lambda through both join branches and the
    # optimizer+evaluator pay ~50x (measured 155 s -> ~7 s at sf0.1).
    # compute-bound Python state op (the LSH shard machine): the
    # session's streaming ceiling, not the input-size-derived count —
    # same rationale as stream_dedup_minhash (sf0.1, 4 cores, warm:
    # 32 -> 4 partitions 6.1 -> 3.0 s)
    sink, sig = run_available_now_many(
        [
            (lsh_bucket_pairs_stream(bands, IMG_MAX_BUCKET), "append"),
            (image_signatures(stream_documents(spark, sf_dir)), "append"),
        ],
        shuffle_partitions=int(
            spark.conf.get("spark.sql.shuffle.partitions")
        ),
    )
    cand = sink.distinct().selectExpr(
        "doc_a as img_a", "doc_b as img_b"
    )
    a = sig.selectExpr("img_id as img_a", "h63 as h_a")
    b = sig.selectExpr("img_id as img_b", "h63 as h_b")
    return (
        cand.join(a, "img_a")
        .join(b, "img_b")
        .selectExpr(
            "img_a", "img_b",
            "cast(bit_count(h_a ^ h_b) as int) as hamming",
        )
        .where(F.col("hamming") <= IMG_MAX_HAMMING)
    )


# ---------------------------------------------------------------------------
# Audio near-duplicate detection: integer energy-envelope fingerprint
# over the decoded WAV payloads (media_type 1) — the third modality of
# the dedup family (text: simhash/minhash, image: dHash, audio: this).
# ---------------------------------------------------------------------------

# Chromaprint-style shape (Lalinsky '11) reduced to exact integer
# arithmetic: frame the s16le samples into overlapping windows, compute
# integer energy (sum of squares) per window, and emit one bit per
# adjacent-window energy comparison — the same "local feature delta"
# construction as dHash, so a one-byte perturbation of the source flips
# at most ~4 bits (one sample sits in <= 2 overlapping windows, each
# feeding <= 2 comparisons) and the banded-Hamming gate finds the pair.
AUD_HDR_LEN = len(MM.MAGIC) + 8 + len(MM.WAV_HEADER)  # SPMM env + RIFF = 56
AUD_SAMPLES = MM.WAV_DATA_LEN // 2  # 128 s16le samples
AUD_WIN = 4  # samples per energy window
AUD_STRIDE = 2  # window hop (overlapping)
AUD_NWIN = 64  # windows; starts 0,2,..,126 (tail zero-padded)
AUD_BITS = 63  # adjacent-window comparisons, sign-safe
AUD_MAX_HAMMING = IMG_MAX_HAMMING
AUD_N_BANDS = AUD_MAX_HAMMING + 1
AUD_MAX_BUCKET = IMG_MAX_BUCKET
AUD_VARIANT_OFF = IMG_VARIANT_OFF  # divisible by 3: keeps media_type 1

_AUD_BAND_BOUNDS = [
    (i * AUD_BITS) // AUD_N_BANDS for i in range(AUD_N_BANDS + 1)
]


def _aud_byte(d: str, i: int, src: str) -> str:
    """WAV data byte i (0-based) as BIGINT from a hex-string column —
    Spark reads the payload past the envelope + RIFF header, DuckDB the
    text bytes (zero-padded both sides, see _byte)."""
    if d == SPARK:
        off = AUD_HDR_LEN + i
        return f"cast(conv(substr({src}, {2 * off + 1}, 2), 16, 10) as bigint)"
    return (
        f"coalesce(('0x' || nullif(substr({src}, {2 * i + 1}, 2), ''))"
        f"::BIGINT, 0)"
    )


def _aud_sample(d: str, k: int, src: str) -> str:
    """Signed little-endian 16-bit sample k: lo + 256*hi - 65536*(hi>=128)."""
    lo = _aud_byte(d, 2 * k, src)
    hi = _aud_byte(d, 2 * k + 1, src)
    return (
        f"({lo} + 256 * {hi}"
        f" - (case when {hi} >= 128 then 65536 else 0 end))"
    )


def _aud_energy_from_samples(w: int) -> str:
    """Window w's integer energy over the s0..s127 sample aliases."""
    terms = []
    for i in range(AUD_WIN):
        k = AUD_STRIDE * w + i
        terms.append(f"s{k} * s{k}" if k < AUD_SAMPLES else "0")
    return "(" + " + ".join(terms) + ")"


def _aud_hash_from_energies() -> str:
    terms = [
        f"(case when e{w + 1} > e{w} then {1 << w} else 0 end)"
        for w in range(AUD_BITS)
    ]
    return "(" + " + ".join(terms) + ")"


def audio_frame(docs: DataFrame) -> DataFrame:
    """(aud_id, text): corpus audio docs (media_type 1) + planted
    one-byte-edit variants for doc_id % 9 = 1 (subset of the audio
    ids, mirroring the image fixture's planted near-identicals)."""
    base = docs.where("doc_id % 3 = 1").selectExpr(
        "cast(doc_id as bigint) as aud_id", "text"
    )
    var = docs.where("doc_id % 9 = 1").selectExpr(
        f"cast(doc_id + {AUD_VARIANT_OFF} as bigint) as aud_id",
        "concat(substr(text, 1, 40), '~', substr(text, 42)) as text",
    )
    return base.unionByName(var)


def audio_signatures(docs: DataFrame) -> DataFrame:
    """(aud_id, h63): energy-envelope fingerprints via the real payload
    path (SPMM envelope -> RIFF/WAVE -> s16le raster). Pure projection:
    zero exchanges, zero Python.

    The raster math runs as array lambdas (transform/aggregate over
    sequence()) instead of 128 aliased sample columns: the values are
    identical (the unrolled form is what the DuckDB oracle still runs),
    but the collapsed Catalyst tree stays ~tens of nodes instead of
    ~10k, which cuts per-query planning+codegen from seconds to
    milliseconds — the whole cost of this operator at bench scale."""
    payloads = MM.with_media_payload(
        audio_frame(docs).withColumnRenamed("aud_id", "doc_id")
    )
    # hex of the WAV data region only (past SPMM envelope + RIFF header)
    hx = payloads.selectExpr(
        "cast(doc_id as bigint) as aud_id",
        f"substr(hex(payload), {2 * AUD_HDR_LEN + 1}) as dhx",
    )
    # s16le sample k: bytes at hex offsets 4k (lo) and 4k+2 (hi); two
    # zero pads so the final overlapping window reads past the raster
    hi = "cast(conv(substr(dhx, 4 * k + 3, 2), 16, 10) as bigint)"
    lo = "cast(conv(substr(dhx, 4 * k + 1, 2), 16, 10) as bigint)"
    smp = (
        f"concat(transform(sequence(0, {AUD_SAMPLES - 1}), k -> "
        f"{lo} + 256 * {hi} - if({hi} >= 128, 65536, 0)), "
        "array(cast(0 as bigint), cast(0 as bigint)))"
    )
    # window w = samples 2w..2w+3 (AUD_WIN=4, AUD_STRIDE=2): sum of squares
    sq = "element_at(smp, 2 * w + {i}) * element_at(smp, 2 * w + {i})"
    eng = (
        f"transform(sequence(0, {AUD_NWIN - 1}), w -> "
        + " + ".join(sq.format(i=i) for i in range(1, AUD_WIN + 1))
        + ")"
    )
    # bit b set iff energy[b+1] > energy[b] (same layout the oracle unrolls)
    h = (
        f"aggregate(sequence(0, {AUD_BITS - 1}), cast(0 as bigint), "
        "(acc, b) -> acc + if(element_at(eng, b + 2) > element_at(eng, b + 1), "
        "shiftleft(cast(1 as bigint), b), cast(0 as bigint)))"
    )
    return (
        hx.selectExpr("aud_id", f"{smp} as smp")
        .selectExpr("aud_id", f"{eng} as eng")
        .selectExpr("aud_id", f"cast({h} as bigint) as h63")
    )


def _aud_band_exprs_spark(sig: str) -> list[str]:
    out = []
    for i in range(AUD_N_BANDS):
        lo, hi = _AUD_BAND_BOUNDS[i], _AUD_BAND_BOUNDS[i + 1]
        mask = (1 << (hi - lo)) - 1
        out.append(f"(shiftright({sig}, {lo}) & {mask}L)")
    return out


def audio_fingerprint_pairs(docs: DataFrame) -> DataFrame:
    """(aud_a, aud_b, hamming) audio near-dup pairs — the exact
    image_phash_pairs machinery over the audio fingerprints."""
    sh = audio_signatures(docs)
    bands = sh.select(
        "aud_id",
        "h63",
        F.posexplode(
            F.expr("array(" + ", ".join(_aud_band_exprs_spark("h63")) + ")")
        ).alias("band", "bval"),
    )
    w = Window.partitionBy("band", "bval")
    eligible = (
        bands.repartition(
            bands.sparkSession.sparkContext.defaultParallelism, "band", "bval"
        )
        .withColumn("n_ids", F.count(F.lit(1)).over(w))
        .where(F.col("n_ids").between(2, AUD_MAX_BUCKET))
        .select("band", "bval", "aud_id", "h63")
    )
    a = eligible.select(
        "band", "bval",
        F.col("aud_id").alias("aud_a"), F.col("h63").alias("h_a"),
    )
    b = eligible.select(
        "band", "bval",
        F.col("aud_id").alias("aud_b"), F.col("h63").alias("h_b"),
    )
    return (
        a.join(b, ["band", "bval"])
        .where(F.col("aud_a") < F.col("aud_b"))
        .selectExpr(
            "aud_a", "aud_b",
            "cast(bit_count(h_a ^ h_b) as int) as hamming",
        )
        .where(F.col("hamming") <= AUD_MAX_HAMMING)
        .distinct()
    )


def _aud_sig_cte(d: str) -> str:
    assert d == DUCK
    samples = ", ".join(
        f"{_aud_sample(DUCK, k, 'hx')} AS s{k}" for k in range(AUD_SAMPLES)
    )
    energies = ", ".join(
        f"{_aud_energy_from_samples(w)} AS e{w}" for w in range(AUD_NWIN)
    )
    return f"""
    auds AS (
      SELECT CAST(doc_id AS BIGINT) AS aud_id, text
      FROM documents WHERE doc_id % 3 = 1
      UNION ALL
      SELECT CAST(doc_id + {AUD_VARIANT_OFF} AS BIGINT),
             substr(text, 1, 40) || '~' || substr(text, 42)
      FROM documents WHERE doc_id % 9 = 1
    ),
    ahxs AS (SELECT aud_id, hex(encode(text)) AS hx FROM auds),
    asmp AS (SELECT aud_id, {samples} FROM ahxs),
    aeng AS (SELECT aud_id, {energies} FROM asmp),
    asig AS (SELECT aud_id, CAST({_aud_hash_from_energies()} AS BIGINT)
               AS h63 FROM aeng)"""


def _aud_bands_cte_duck() -> str:
    arms = []
    for i in range(AUD_N_BANDS):
        lo, hi = _AUD_BAND_BOUNDS[i], _AUD_BAND_BOUNDS[i + 1]
        mask = (1 << (hi - lo)) - 1
        arms.append(
            f"SELECT aud_id, h63, {i} AS band, (h63 >> {lo}) & {mask}"
            f" AS bval FROM asig"
        )
    return " UNION ALL ".join(arms)


@register(
    "dedup_audio_fingerprint",
    oracle=f"""
    WITH {_aud_sig_cte(DUCK)},
    abands AS ({_aud_bands_cte_duck()}),
    absz AS (
      SELECT band, bval FROM abands GROUP BY band, bval
      HAVING count(*) BETWEEN 2 AND {AUD_MAX_BUCKET}
    ),
    acand AS (
      SELECT DISTINCT a.aud_id AS aud_a, b.aud_id AS aud_b
      FROM abands a
      JOIN absz s ON s.band = a.band AND s.bval = a.bval
      JOIN abands b ON b.band = a.band AND b.bval = a.bval
       AND a.aud_id < b.aud_id
    )
    SELECT c.aud_a, c.aud_b,
           CAST(bit_count(xor(a.h63, b.h63)) AS INT) AS hamming
    FROM acand c
    JOIN asig a ON a.aud_id = c.aud_a
    JOIN asig b ON b.aud_id = c.aud_b
    WHERE bit_count(xor(a.h63, b.h63)) <= {AUD_MAX_HAMMING}
    """,
    doc="Audio near-duplicate pairs — the THIRD modality of the dedup "
    "family: 63-bit integer energy-envelope fingerprint (Chromaprint-"
    "style adjacent-window energy comparisons over overlapping 4-sample "
    "windows of the decoded s16le WAV raster), candidates from the "
    "gated pigeonhole band equi-join at hamming <= 4 (the "
    "dedup_image_phash machinery verbatim). Spark decodes the real "
    "SPMM+RIFF payload; the oracle re-derives the samples from document "
    "text — independent derivations of the same raster. Signatures are "
    "a zero-exchange scan projection; the bucket gate bounds every join "
    "task.",
    tags=("dedup", "multimodal", "lsh"),
)
def dedup_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return audio_fingerprint_pairs(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# Video near-duplicate detection: frame-hash containment over the raw
# payload bodies (media_type 2) — the FOURTH dedup modality. Real video
# dedup hashes sampled keyframes and scores shared-frame containment;
# here the fixture's synthetic "video" is the raw byte body framed into
# FRAME_SIZE-byte frames (the same framing functions/multimodal.py's
# sample_frames uses), each frame hashed, and near-dup = sharing at
# least half the smaller video's distinct frame hashes — the
# doc_containment_pairs machinery (gated fp equi-join) verbatim.
# ---------------------------------------------------------------------------

VID_FRAME_HEX = 2 * MM.FRAME_SIZE  # 64-byte frames = 128 hex chars
VID_FH_MAX_DOCS = 50  # bucket gate, same rationale as FP_MAX_DOCS
VID_VARIANT_OFF = IMG_VARIANT_OFF  # divisible by 3: keeps media_type 2


def video_frame(docs: DataFrame) -> DataFrame:
    """(vid_id, text): corpus video docs (media_type 2) + planted
    one-byte-edit variants for doc_id % 9 = 2 (changes ONE frame's hash
    out of ~len/64, so containment stays above the gate)."""
    base = docs.where("doc_id % 3 = 2").selectExpr(
        "cast(doc_id as bigint) as vid_id", "text"
    )
    var = docs.where("doc_id % 9 = 2").selectExpr(
        f"cast(doc_id + {VID_VARIANT_OFF} as bigint) as vid_id",
        "concat(substr(text, 1, 40), '~', substr(text, 42)) as text",
    )
    return base.unionByName(var)


def video_frame_hashes(docs: DataFrame) -> DataFrame:
    """(vid_id, n_fh, fh): distinct frame hashes per video, exploded,
    with the distinct-count along — a zero-exchange generator pass over
    the payload scan (the containment_pairs shape)."""
    payloads = MM.with_media_payload(
        video_frame(docs).withColumnRenamed("vid_id", "doc_id")
    )
    # body hex = payload hex past the 12-byte SPMM envelope (media_type
    # 2 bodies are the raw bytes, unpadded — same length as the text)
    fhs = payloads.selectExpr(
        "cast(doc_id as bigint) as vid_id",
        "substr(hex(payload), 25) as bh",
    ).selectExpr(
        "vid_id",
        f"array_distinct(transform(sequence(0, cast((length(bh) +"
        f" {VID_FRAME_HEX - 1}) div {VID_FRAME_HEX} as int) - 1),"
        f" j -> {D.md5int(SPARK, f'substr(bh, j * {VID_FRAME_HEX} + 1, {VID_FRAME_HEX})')}"
        ")) as fhs",
    )
    return (
        fhs.where("size(fhs) > 0")
        .select(
            "vid_id",
            F.expr("size(fhs)").alias("n_fh"),
            F.explode("fhs").alias("fh"),
        )
    )


def video_framehash_pairs(docs: DataFrame) -> DataFrame:
    """(vid_a, vid_b, n_shared, n_min) video near-dup pairs: gated frame
    hash equi-join, kept when the pair shares >= half the smaller
    video's distinct frames."""
    x = video_frame_hashes(docs)
    w = Window.partitionBy("fh")
    xg = (
        x.repartition(x.sparkSession.sparkContext.defaultParallelism, "fh")
        .withColumn("n_docs", F.count(F.lit(1)).over(w))
        .where(F.col("n_docs").between(2, VID_FH_MAX_DOCS))
        .select("fh", "vid_id", "n_fh")
    )
    a = xg.select("fh", F.col("vid_id").alias("vid_a"), F.col("n_fh").alias("na"))
    b = xg.select("fh", F.col("vid_id").alias("vid_b"), F.col("n_fh").alias("nb"))
    return (
        a.join(b, ["fh"])
        .where("vid_a < vid_b")
        .groupBy("vid_a", "vid_b")
        .agg(
            F.count(F.lit(1)).alias("n_shared"),
            F.expr("least(max(na), max(nb))").alias("n_min"),
        )
        .where("2 * n_shared >= n_min AND n_min > 0")
    )


@register(
    "dedup_video_framehash",
    oracle=f"""
    WITH vids AS (
      SELECT CAST(doc_id AS BIGINT) AS vid_id, text
      FROM documents WHERE doc_id % 3 = 2
      UNION ALL
      SELECT CAST(doc_id + {VID_VARIANT_OFF} AS BIGINT),
             substr(text, 1, 40) || '~' || substr(text, 42)
      FROM documents WHERE doc_id % 9 = 2
    ),
    vb AS (SELECT vid_id, hex(encode(text)) AS bh FROM vids),
    vf AS (
      SELECT vid_id,
             list_distinct(list_transform(
               range(0, (length(bh) + {VID_FRAME_HEX - 1}) // {VID_FRAME_HEX}),
               j -> {D.md5int(DUCK, f"substr(bh, j * {VID_FRAME_HEX} + 1, {VID_FRAME_HEX})")}
             )) AS fhs
      FROM vb
    ),
    x AS (SELECT vid_id, len(fhs) AS n_fh, unnest(fhs) AS fh
          FROM vf WHERE len(fhs) > 0),
    gate AS (SELECT fh FROM x GROUP BY fh
             HAVING count(*) BETWEEN 2 AND {VID_FH_MAX_DOCS}),
    xg AS (SELECT x.* FROM x JOIN gate USING (fh))
    SELECT vid_a, vid_b, n_shared, n_min FROM (
      SELECT a.vid_id AS vid_a, b.vid_id AS vid_b,
             CAST(count(*) AS BIGINT) AS n_shared,
             CAST(least(max(a.n_fh), max(b.n_fh)) AS BIGINT) AS n_min
      FROM xg a JOIN xg b ON a.fh = b.fh AND a.vid_id < b.vid_id
      GROUP BY a.vid_id, b.vid_id
    ) WHERE 2 * n_shared >= n_min AND n_min > 0
    """,
    doc="Video near-duplicate pairs — the FOURTH dedup modality: frame "
    "the raw payload body into 64-byte frames (the sample_frames "
    "framing), hash each frame (shared md5 dialect), and keep pairs "
    "sharing >= half the smaller video's distinct frame hashes — "
    "keyframe-containment dedup, the doc_containment_pairs gated "
    "equi-join machinery verbatim (bucket-capped, no all-pairs). A "
    "planted one-byte edit changes exactly one frame, so variants stay "
    "above the containment gate.",
    tags=("dedup", "multimodal"),
)
def dedup_video_framehash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return video_framehash_pairs(_docs(spark, sf_dir)).selectExpr(
        "vid_a", "vid_b",
        "cast(n_shared as bigint) as n_shared",
        "cast(n_min as bigint) as n_min",
    )


# ---------------------------------------------------------------------------
# Cross-modal composite dedup verdict (VERDICT r8 #9 — the LAION-style
# curation signal: a doc can be a text dup, an image dup, both, or clean)
# ---------------------------------------------------------------------------


def _mm_verdict_oracle() -> str:
    """Compose the two existing cluster closures — text MinHash-LSH CC
    and image dHash CC — into one per-document verdict. The image-side
    CTEs are mechanically renamed (bands/bsz/cand/prs -> im_*) because
    the MinHash machinery already owns those names in the shared WITH
    list; everything else is the two registered oracles verbatim."""
    import re

    from streamprocessors_spark.plans.llm_ops import (
        _MINHASH_ORACLE_CTES,
        _MINHASH_VERIFY_SELECT,
    )

    img = f"""{_sig_cte(DUCK)},
    {_PAIRS_ORACLE_BODY.format(bands=_bands_cte_duck())}"""
    for name in ("bands", "bsz", "cand", "prs"):
        img = re.sub(rf"\b{name}\b", f"im_{name}", img)
    return f"""
    WITH RECURSIVE {_MINHASH_ORACLE_CTES},
    tpairs AS ({_MINHASH_VERIFY_SELECT}),
    tedges AS (
      SELECT doc_a AS u, doc_b AS v FROM tpairs
      UNION SELECT doc_b, doc_a FROM tpairs
    ),
    treach AS (
      SELECT u, v FROM tedges
      UNION
      SELECT r.u, e.v FROM treach r JOIN tedges e ON r.v = e.u
    ),
    tlab AS (SELECT u AS doc_id, least(u, min(v)) AS canonical
             FROM treach GROUP BY u),
    {img},
    iedges AS (
      SELECT img_a AS u, img_b AS v FROM im_prs
      UNION SELECT img_b, img_a FROM im_prs
    ),
    ireach AS (
      SELECT u, v FROM iedges
      UNION
      SELECT r.u, e.v FROM ireach r JOIN iedges e ON r.v = e.u
    ),
    ilab AS (SELECT u AS img_id, least(u, min(v)) AS canonical
             FROM ireach GROUP BY u)
    SELECT d.doc_id,
           COALESCE(tl.canonical, d.doc_id) AS text_canonical,
           CAST(CASE WHEN d.doc_id % 3 = 0
                     THEN COALESCE(il.canonical, d.doc_id) END
                AS BIGINT) AS image_canonical,
           CAST(CASE
             WHEN COALESCE(tl.canonical, d.doc_id) <> d.doc_id
              AND d.doc_id % 3 = 0
              AND COALESCE(il.canonical, d.doc_id) <> d.doc_id
               THEN 'both'
             WHEN COALESCE(tl.canonical, d.doc_id) <> d.doc_id THEN 'text'
             WHEN d.doc_id % 3 = 0
              AND COALESCE(il.canonical, d.doc_id) <> d.doc_id
               THEN 'image'
           END AS VARCHAR) AS dup_modality,
           CAST(CASE WHEN COALESCE(tl.canonical, d.doc_id) = d.doc_id
                      AND (d.doc_id % 3 <> 0
                           OR COALESCE(il.canonical, d.doc_id) = d.doc_id)
                     THEN 1 ELSE 0 END AS INT) AS kept
    FROM documents d
    LEFT JOIN tlab tl ON tl.doc_id = d.doc_id
    LEFT JOIN ilab il ON il.img_id = d.doc_id
    """


@register(
    "dedup_multimodal_verdict",
    oracle=_mm_verdict_oracle(),
    doc="Cross-modal composite dedup — the LAION-style curation signal: "
    "one verdict row per corpus document joining its TEXT near-dup "
    "cluster (MinHash-LSH + CC, the dedup_keep_list closure) with its "
    "IMAGE near-dup cluster (dHash banded Hamming + CC, the "
    "dedup_image_keep_list closure). dup_modality flags 'text' / "
    "'image' / 'both' / NULL=clean; kept = dup in neither modality. "
    "Docs without an image payload (doc_id % 3 <> 0) carry a NULL "
    "image_canonical and can only be text dups. Composes the two "
    "existing label machineries without re-implementing either; the "
    "only new work is one more left join of (tiny) label frames onto "
    "the corpus — both unhinted, label cardinality is data-dependent. "
    "Oracle: the two registered closures' CTEs verbatim (image side "
    "mechanically renamed), one WITH RECURSIVE list.",
    tags=("dedup", "multimodal", "lsh", "iterative"),
)
def dedup_multimodal_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamprocessors_spark.plans.advanced import text_keep_labels

    docs = _docs(spark, sf_dir).select("doc_id")
    # both label frames come from the per-corpus PAIR/LABEL STORES
    # (VERDICT r10 #5) — signature pipelines and the CC closures run
    # once per corpus across every composed consumer, not once per query
    tlab = text_keep_labels(spark, sf_dir).selectExpr(
        "doc_id as t_doc", "canonical as t_can"
    )
    ilab = image_keep_labels(spark, sf_dir).selectExpr(
        "doc_id as i_img", "canonical as i_can"
    )
    # No broadcast hints: both label frames are data-dependent-sized
    # (near-dup membership can be a large corpus fraction); AQE decides.
    return (
        docs.join(tlab, docs.doc_id == F.col("t_doc"), "left")
        .join(ilab, F.col("doc_id") == F.col("i_img"), "left")
        .selectExpr(
            "doc_id",
            "coalesce(t_can, doc_id) as text_canonical",
            "cast(case when doc_id % 3 = 0"
            " then coalesce(i_can, doc_id) end as bigint)"
            " as image_canonical",
            "cast(case"
            " when coalesce(t_can, doc_id) <> doc_id and doc_id % 3 = 0"
            "  and coalesce(i_can, doc_id) <> doc_id then 'both'"
            " when coalesce(t_can, doc_id) <> doc_id then 'text'"
            " when doc_id % 3 = 0"
            "  and coalesce(i_can, doc_id) <> doc_id then 'image'"
            " end as string) as dup_modality",
            "cast(case when coalesce(t_can, doc_id) = doc_id"
            " and (doc_id % 3 <> 0 or coalesce(i_can, doc_id) = doc_id)"
            " then 1 else 0 end as int) as kept",
        )
    )
