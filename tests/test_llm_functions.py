"""Unit tests for the LLM-pipeline function library.

End-to-end Spark<->DuckDB parity of every registered query is covered by
test_oracle_parity; these tests pin the pieces that parity alone wouldn't
catch: the multimodal Arrow plumbing (payload layout, batch schema,
decode-stub contract) and the cross-engine determinism of floor_round.
"""

from __future__ import annotations

import zlib

import duckdb
import pytest

from streamprocessors_spark.functions import dialect as D
from streamprocessors_spark.functions import minhash as MH
from streamprocessors_spark.functions import multimodal as MM


def test_minhash_constants_sane():
    assert MH.BANDS * MH.ROWS_PER_BAND == MH.K_PERMS == len(MH.PERMS)
    for a, b in MH.PERMS:
        # products must stay within signed-64 (DuckDB raises on overflow)
        assert 0 < a < MH.P and 0 <= b < MH.P
        assert a * (MH.P - 1) + b < 2**63


def test_decode_ppm_real_header_tokenizer():
    # comments and arbitrary whitespace between header tokens (netpbm spec)
    pixels = bytes(range(2 * 2 * 3))
    data = b"P6 # inline comment\n# full line\n 2\t2\n# again\n255\n" + pixels
    w, h, maxval, pix = MM.decode_ppm(data)
    assert (w, h, maxval) == (2, 2, 255)
    assert pix == pixels
    with pytest.raises(ValueError):
        MM.decode_ppm(b"P5\n2 2\n255\n" + pixels)  # P5 is not P6
    with pytest.raises(ValueError):
        MM.decode_ppm(b"P6\n2 2\n255\n" + pixels[:-1])  # truncated raster


def test_decode_wav_chunk_walker():
    import struct

    import numpy as np

    samples = np.array([-2, -1, 0, 1, 2, 32767], dtype="<i2")
    data_bytes = samples.tobytes()
    junk = b"LIST" + struct.pack("<I", 5) + b"12345" + b"\x00"  # odd->pad byte
    wav = (
        b"RIFF" + struct.pack("<I", 0) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16)
        + struct.pack("<HHIIHH", 1, 1, 44100, 88200, 2, 16)
        + junk
        + b"data" + struct.pack("<I", len(data_bytes)) + data_bytes
    )
    ch, rate, bits, out = MM.decode_wav(wav)
    assert (ch, rate, bits) == (1, 44100, 16)
    assert (out == samples).all()
    with pytest.raises(ValueError):
        MM.decode_wav(b"RIFX" + wav[4:])
    with pytest.raises(ValueError):  # non-PCM format code
        bad = wav.replace(struct.pack("<HHIIHH", 1, 1, 44100, 88200, 2, 16),
                          struct.pack("<HHIIHH", 3, 1, 44100, 88200, 2, 16))
        MM.decode_wav(bad)


def test_decode_media_sniffs_formats():
    fmt, info = MM.decode_media(b"P6\n1 1\n255\n\x01\x02\x03")
    assert fmt == "ppm" and info["width"] == 1
    fmt, _ = MM.decode_media(b"plain text bytes")
    assert fmt == "raw"


def test_media_payload_bodies_are_real_formats(spark, sf_dir):
    from streamprocessors_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents").limit(9)
    rows = MM.with_media_payload(docs).collect()
    assert len(rows) == 9
    seen = set()
    for r in rows:
        body = bytes(r.payload)[MM.HEADER_LEN :]
        t = r.doc_id % 3
        seen.add(t)
        if t == 0:
            w, h, maxval, pix = MM.decode_ppm(body)
            assert (w, h, maxval) == (MM.PPM_W, MM.PPM_H, MM.PPM_MAXVAL)
            assert len(pix) == MM.PPM_PIX_BYTES
        elif t == 1:
            ch, rate, bits, samples = MM.decode_wav(body)
            assert (ch, rate, bits) == (1, MM.WAV_RATE, 16)
            assert len(samples) == MM.WAV_DATA_LEN // 2
        assert r.meta.body_len == len(body)
    assert seen == {0, 1, 2}


def test_payload_layout(spark, sf_dir):
    from streamprocessors_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents").limit(5)
    rows = MM.with_payload(docs).collect()
    assert len(rows) == 5
    for r in rows:
        payload = bytes(r.payload)
        assert payload[:4] == MM.MAGIC
        media_type = int.from_bytes(payload[4:8], "big")
        body_len = int.from_bytes(payload[8:12], "big")
        assert media_type == r.doc_id % 3 == r.meta.media_type
        assert body_len == len(payload) - MM.HEADER_LEN == r.meta.body_len


def test_frame_sample_crcs(spark, sf_dir):
    from streamprocessors_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents").limit(3)
    mm = MM.with_payload(docs)
    payloads = {r.doc_id: bytes(r.payload)[MM.HEADER_LEN :] for r in mm.collect()}
    frames = MM.sample_frames(mm).collect()
    assert frames
    for fr in frames:
        body = payloads[fr.doc_id]
        chunk = body[fr.frame_idx * MM.FRAME_SIZE : (fr.frame_idx + 1) * MM.FRAME_SIZE]
        assert fr.frame_idx % 2 == 0  # stride
        assert fr.frame_len == len(chunk)
        assert fr.frame_crc == zlib.crc32(chunk)


def test_floor_round_cross_engine(spark):
    """floor-based quantization is bit-identical across engines even on
    values where round() half-up/half-even behavior differs."""
    vals = [80.725, 0.1, -0.5554445, 2.675, 1.0 / 3.0, -1e-7]
    sql_vals = ", ".join(f"({v!r}::DOUBLE)" for v in vals)
    du = duckdb.sql(
        f"SELECT {', '.join(D.floor_round(D.DUCK, f'({v!r})::DOUBLE', 4) for v in vals)}"
    ).fetchone()
    sp = spark.sql(
        f"SELECT {', '.join(D.floor_round(D.SPARK, f'cast({v!r} as double)', 4) for v in vals)}"
    ).collect()[0]
    assert list(du) == list(sp), (sql_vals, du, sp)


def test_minhash_lsh_hot_bucket_capped(spark):
    """Adversarial skew fixture (VERDICT r3 #1): 1,000 near-identical
    boilerplate docs collapse into ONE (band, bh) bucket in all four
    bands. The capped self-join candidate stage must (a) complete without
    materializing the bucket as a single collect_list row, and (b) emit
    zero pairs from the over-full bucket while still pairing the small
    bucket — i.e. the cap bounds the quadratic blow-up at
    LSH_MAX_BUCKET^2, so no single task ever sees the 10^6-pair
    explosion."""
    from pyspark.sql import functions as F

    from streamprocessors_spark.plans.llm_ops import (
        LSH_MAX_BUCKET,
        minhash_candidate_pairs,
        shingle_docs,
    )

    boiler = "the quick brown fox jumps over the lazy dog " * 5
    other = "completely different text about spark shuffles and lsh caps " * 5
    rows = [(i, "en", boiler) for i in range(1000)]
    rows += [(10_000 + i, "en", other) for i in range(4)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")

    s = shingle_docs(docs, 8)
    cand = minhash_candidate_pairs(s)

    p = spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        cand._jdf.queryExecution(), "formatted"
    )
    assert "collect_list" not in p

    pairs = {(r.doc_a, r.doc_b) for r in cand.collect()}
    # the 1000-doc bucket exceeds LSH_MAX_BUCKET in every band -> no pairs
    assert 1000 > LSH_MAX_BUCKET
    assert all(a >= 10_000 and b >= 10_000 for a, b in pairs), (
        f"hot bucket leaked pairs: {sorted(pairs)[:5]}"
    )
    # the small bucket still pairs: C(4,2) = 6 identical-text candidates
    assert len(pairs) == 6


def test_simhash_banded_hot_bucket_capped(spark):
    """Adversarial skew fixture (VERDICT r4 #1), SimHash twin of the
    MinHash hot-bucket test: 1,000 identical boilerplate docs share one
    signature, so all five (band, bval) buckets hold 1,000 members. The
    gated candidate stage must emit ZERO pairs from the over-full buckets
    (bounding the per-bucket blow-up at SIMHASH_MAX_BUCKET^2) while the
    small bucket still pairs its C(4,2) = 6 identical-text docs."""
    from pyspark.sql import functions as F

    from streamprocessors_spark.plans.llm_ops import (
        SIMHASH_MAX_BUCKET,
        simhash_candidate_pairs,
        simhash_signatures,
    )

    boiler = "the quick brown fox jumps over the lazy dog " * 5
    other = "completely different text about spark shuffles and lsh caps " * 5
    rows = [(i, "en", boiler) for i in range(1000)]
    rows += [(10_000 + i, "en", other) for i in range(4)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")

    cand = simhash_candidate_pairs(simhash_signatures(docs))
    p = spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        cand._jdf.queryExecution(), "formatted"
    )
    assert "collect_list" not in p

    pairs = {(r.doc_a, r.doc_b) for r in cand.collect()}
    assert 1000 > SIMHASH_MAX_BUCKET
    assert all(a >= 10_000 and b >= 10_000 for a, b in pairs), (
        f"hot band bucket leaked pairs: {sorted(pairs)[:5]}"
    )
    assert len(pairs) == 6


def test_simhash_banding_pigeonhole():
    """The exactness proof behind dedup_simhash_banded: ANY two 48-bit
    signatures at hamming <= SIMHASH_MAX_HAMMING must agree exactly on at
    least one of the SIMHASH_MAX_HAMMING+1 bands (<= 4 flipped bits cannot
    touch all 5 bands). Randomized over signatures and flip sets; also
    checks band completeness (widths tile the 48 bits exactly)."""
    import random

    from streamprocessors_spark.plans.llm_ops import (
        _SIMHASH_BAND_BOUNDS,
        SIMHASH_MAX_HAMMING,
        SIMHASH_N_BANDS,
    )

    assert _SIMHASH_BAND_BOUNDS[0] == 0 and _SIMHASH_BAND_BOUNDS[-1] == MH.SIMHASH_BITS
    assert len(_SIMHASH_BAND_BOUNDS) == SIMHASH_N_BANDS + 1

    def bands(sig):
        return [
            (sig >> lo) & ((1 << (hi - lo)) - 1)
            for lo, hi in zip(_SIMHASH_BAND_BOUNDS, _SIMHASH_BAND_BOUNDS[1:])
        ]

    rng = random.Random(0xBEEF)
    for _ in range(2000):
        a = rng.getrandbits(MH.SIMHASH_BITS)
        k = rng.randint(0, SIMHASH_MAX_HAMMING)
        flips = rng.sample(range(MH.SIMHASH_BITS), k)
        b = a
        for f in flips:
            b ^= 1 << f
        assert any(x == y for x, y in zip(bands(a), bands(b))), (a, flips)


def test_repeated_ngram_spans_hand_fixture(spark, monkeypatch):
    """Hand-derived spans: doc 1 and doc 2 share one 7-word run (three
    overlapping 5-grams -> ONE merged island per doc), doc 3 repeats a
    5-gram inside itself (self-repetition counts, per ExactSubstr), and
    doc 4 is unique (no rows)."""
    from pyspark.sql import functions as F

    from streamprocessors_spark.plans import llm_ops as L

    shared = "alpha beta gamma delta epsilon zeta eta"  # 7 words
    rows = [
        (1, "en", f"one two {shared} three four"),
        (2, "en", f"{shared} nine ten eleven twelve"),
        # same 5-gram twice in one doc: positions 1 and 6
        (3, "en", "p q r s t p q r s t"),
        (4, "en", "completely unrelated filler text with unique words"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    monkeypatch.setattr(
        L, "_docs", lambda spark_, sf_dir_: docs
    )
    got = {
        (r.doc_id, r.span_start, r.span_end, r.n_grams)
        for r in L.repeated_ngram_spans(spark, "ignored").collect()
    }
    # doc 1: shared run at word 3..9 -> grams at pos 3,4,5 -> span 3..9
    # doc 2: shared run at word 1..7 -> grams at pos 1,2,3 -> span 1..7
    # doc 3: gram "p q r s t" at pos 1 and 6 -> islands {1} and {6}
    assert got == {
        (1, 3, 9, 3),
        (2, 1, 7, 3),
        (3, 1, 5, 1),
        (3, 6, 10, 1),
    }, got


def test_html_extraction_recovers_text_property(spark):
    """Property: for ANY body text (printable ASCII + whitespace,
    including &, <, >, quotes and newlines), the extraction pipeline
    recovers exactly 'Doc {id} heading' + the whitespace-normalized
    text — entity round-trip and tag stripping must never eat or invent
    characters. Alphabet excludes \\x0b/\\x0c: Java's \\s matches
    vertical tab, RE2's does not, and the production fixture gate only
    guarantees ASCII space classes shared by both engines."""
    from hypothesis import given, settings, strategies as st

    from streamprocessors_spark.plans.llm_ops import (
        _html_raw_expr,
        _html_visible_expr,
    )

    alphabet = st.sampled_from(
        list("abcXYZ09 &<>\"'/=.\t\n\r") + ["&amp;", "<p>", "</p>"]
    )

    @settings(max_examples=25, deadline=None)
    @given(st.lists(alphabet, max_size=40).map("".join))
    def check(text):
        df = spark.createDataFrame(
            [(7, text)], "doc_id bigint, text string"
        ).selectExpr(
            "doc_id", f"{_html_raw_expr('spark')} as html"
        ).selectExpr(
            f"{_html_visible_expr('spark', 'html', True)} as main_text"
        )
        got = df.collect()[0].main_text
        import re as _re

        norm = _re.sub(r"[ \t\n\r\f]+", " ", text).strip()
        expected = ("Doc 7 heading " + norm).strip()
        assert got == expected, (text, got, expected)

    check()


def test_bpe_trained_cache_is_per_corpus(spark, sf_dir, tmp_path):
    """The memoized merge table must be keyed by corpus: serving a second
    corpus must NOT reuse the first one's merges, a repeat call must hit
    the memo, and both must equal an honest retrain. A session that ran
    the training path serves its merges without training again."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from streamprocessors_spark.plans.llm_ops import _bpe_train, _bpe_trained
    from streamprocessors_spark.storage import artifact

    builds = []

    def counting_build():
        builds.append(1)
        return []

    m_small, _ = _bpe_trained(spark, sf_dir)
    assert artifact(spark, sf_dir, "bpe_merges", counting_build) is m_small
    # trained path returns exactly what an honest retrain returns
    m_again, _ = _bpe_trained(spark, sf_dir)
    assert m_again == m_small
    m_fresh, _ = _bpe_train(spark, sf_dir)
    assert m_fresh == m_small

    # a second corpus (the even docs only: same words, other counts)
    other = tmp_path / "even"
    other.mkdir()
    t = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    even = pa.array([d % 2 == 0 for d in t["doc_id"].to_pylist()])
    pq.write_table(t.filter(even), str(other / "documents.parquet"))
    m_other_fresh, _ = _bpe_train(spark, str(other))
    assert m_other_fresh != m_small
    # the training run seeded the serving entry: no second training
    assert artifact(spark, str(other), "bpe_merges", counting_build) == m_other_fresh
    assert _bpe_trained(spark, str(other))[0] == m_other_fresh
    assert _bpe_trained(spark, sf_dir)[0] == m_small
    assert builds == []


def test_store_caches_evict_stale_app_entries(monkeypatch):
    """Artifacts are (applicationId, corpus, name)-keyed; entries from a
    stopped session are dead checkpoint references and every call drops
    them from the whole memo, whatever their name (ADVICE r10)."""
    from types import SimpleNamespace

    from streamprocessors_spark import storage

    # an empty memo, so the live test session's artifacts survive
    monkeypatch.setattr(storage, "_ARTIFACTS", {})
    builds = []

    def build(tag):
        def run():
            builds.append(tag)
            return tag

        return run

    def session(app_id):
        return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))

    old, new = session("app-old"), session("app-new")
    assert storage.artifact(old, "/sf/a", "m", build("old-a")) == "old-a"
    assert storage.artifact(old, "/sf/b", "n", build("old-b")) == "old-b"
    assert storage.artifact(old, "/sf/b", "n", build("old-b2")) == "old-b"
    # a new session builds its own entry and evicts the old session's
    assert storage.artifact(new, "/sf/a", "m", build("new-a")) == "new-a"
    assert storage.artifact(new, "/sf/a", "m", build("new-a2")) == "new-a"  # idempotent
    assert builds == ["old-a", "old-b", "new-a"]
    # the old session's entry under ANOTHER name is gone too
    assert storage.artifact(old, "/sf/b", "n", build("old-b3")) == "old-b3"
    assert builds[-1] == "old-b3"
