"""Property-based tests (SURVEY.md §5/§7.4): the production rule join
(``rules.match``, driver-compiled) vs an independent Python model of the
reference's semantics (written from kafka_s.py:240-285's description,
not from the expression code under test), over hypothesis-generated
rules and titles."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from kafka_stream_spark.functions import rules

# alphabet that exercises separators, whitespace and CJK
_WORD = st.text(alphabet="ab词 快", min_size=0, max_size=4)


def model_match(title: str, in_rules: str, filter_rules: str) -> bool:
    """Reference semantics, independently: split on 、 → strip each
    OR-group → split on & (parts NOT re-stripped); match iff some group
    has all parts as substrings; veto iff any non-empty filter keyword
    (split on 、) is a substring."""
    groups = [g.strip().split("&") for g in in_rules.split("、")]
    included = any(all(kw in title for kw in grp) for grp in groups)
    vetoed = any(kw in title for kw in filter_rules.split("、") if kw != "")
    return included and vetoed is False


@st.composite
def _case(draw):
    title = draw(st.text(alphabet="ab词 快&、", min_size=0, max_size=20))
    n_groups = draw(st.integers(1, 3))
    groups = []
    for _ in range(n_groups):
        parts = draw(st.lists(_WORD, min_size=1, max_size=3))
        groups.append("&".join(parts))
    in_rules = "、".join(groups)
    filter_rules = "、".join(draw(st.lists(_WORD, min_size=0, max_size=2)))
    return title, in_rules, filter_rules


@settings(max_examples=12, deadline=None)
@given(st.lists(_case(), min_size=1, max_size=25))
def test_rule_match_agrees_with_model(spark, cases):
    """Every generated title against every generated rule: the generated
    rules become a rules frame with synthetic rule_ids, joined by
    ``rules.match``; the matched (title, rule) pairs must be exactly the
    model's."""
    titles = spark.createDataFrame(
        [(i, t) for i, (t, _, _) in enumerate(cases)], schema="tid long, title string"
    )
    rules_df = spark.createDataFrame(
        [(i, inr, fr) for i, (_, inr, fr) in enumerate(cases)],
        schema="rule_id long, in_rules string, filter_rules string",
    )
    got = {
        (row["tid"], row["rule_id"])
        for row in rules.match(titles, "title", rules_df).collect()
    }
    want = {
        (i, j)
        for i, (title, _, _) in enumerate(cases)
        for j, (_, inr, fr) in enumerate(cases)
        if model_match(title, inr, fr)
    }
    assert got == want, [
        (cases[i][0], cases[j][1], cases[j][2]) for i, j in got ^ want
    ]


def model_shingles(text: str, n: int = 3) -> list[str]:
    toks = [t for t in text.split(" ") if t]
    if len(toks) < n:
        return [" ".join(toks)]
    return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]


@settings(max_examples=12, deadline=None)
@given(st.lists(st.text(alphabet="abc ", max_size=30), min_size=1, max_size=20))
def test_shingles_agree_with_model(spark, texts):
    from kafka_stream_spark.functions import text as T

    df = spark.createDataFrame([(t,) for t in texts], schema=["t"])
    got = df.select("t", T.shingles(T.tokens(F.col("t"))).alias("s")).collect()
    for row in got:
        assert row["s"] == model_shingles(row["t"]), repr(row["t"])


# ---------------------------------------------------------------------------
# codec round-trip properties (no Spark needed — pure Python codecs)
# ---------------------------------------------------------------------------


@given(
    w=st.integers(min_value=1, max_value=9),
    h=st.integers(min_value=1, max_value=9),
    n_frames=st.integers(min_value=1, max_value=4),
    data=st.data(),
)
@settings(max_examples=30, deadline=None)
def test_avi_roundtrip_property(w, h, n_frames, data):
    """Any stack of arbitrary RGB frames survives the AVI container
    bit-for-bit — including odd widths that exercise DIB row padding."""
    from kafka_stream_spark.operators.multimodal import (
        decode_avi_frames,
        encode_avi,
    )

    frames = [
        bytes(
            data.draw(
                st.lists(
                    st.integers(0, 255),
                    min_size=w * h * 3,
                    max_size=w * h * 3,
                )
            )
        )
        for _ in range(n_frames)
    ]
    rw, rh, out = decode_avi_frames(encode_avi(w, h, frames))
    assert (rw, rh) == (w, h)
    assert out == frames


@given(
    rate=st.sampled_from([8000, 16000, 44100]),
    samples=st.lists(
        st.integers(min_value=-32768, max_value=32767),
        min_size=0,
        max_size=64,
    ),
)
@settings(max_examples=30, deadline=None)
def test_wav_roundtrip_property(rate, samples):
    """Any int16 sample vector survives the RIFF/PCM container."""
    from kafka_stream_spark.operators.multimodal import decode_wav, encode_wav

    r, ch, out = decode_wav(encode_wav(samples, sample_rate=rate))
    assert (r, ch) == (rate, 1)
    assert out == samples


@given(
    w=st.integers(min_value=1, max_value=12),
    h=st.integers(min_value=1, max_value=12),
    data=st.data(),
)
@settings(max_examples=30, deadline=None)
def test_bmp_roundtrip_property(w, h, data):
    """Any RGB image survives the BMP container (row padding incl.)."""
    from kafka_stream_spark.operators.multimodal import decode_bmp, encode_bmp

    rgb = bytes(
        data.draw(
            st.lists(
                st.integers(0, 255), min_size=w * h * 3, max_size=w * h * 3
            )
        )
    )
    rw, rh, out = decode_bmp(encode_bmp(w, h, rgb))
    assert (rw, rh, out) == (w, h, rgb)


@given(
    w=st.integers(1, 12),
    h=st.integers(1, 10),
    data=st.data(),
)
@settings(max_examples=20, deadline=None)
def test_png_roundtrip_property(w, h, data):
    """Any RGB image survives the PNG container (zlib + filter 0)."""
    from kafka_stream_spark.operators.multimodal import decode_png, encode_png

    rgb = bytes(
        data.draw(
            st.lists(
                st.integers(0, 255), min_size=w * h * 3, max_size=w * h * 3
            )
        )
    )
    rw, rh, out = decode_png(encode_png(w, h, rgb))
    assert (rw, rh, out) == (w, h, rgb)


def _forward_filter_png(w, h, rgb, ftypes):
    """Reference forward filtering (spec §6) to exercise every
    reconstruction branch of decode_png with rows NOT written by our
    own encoder."""
    import struct
    import zlib

    from kafka_stream_spark.operators.multimodal import _PNG_SIG, _paeth

    stride = w * 3
    prev = bytes(stride)
    raw = bytearray()
    for r in range(h):
        line = rgb[r * stride : (r + 1) * stride]
        ft = ftypes[r % len(ftypes)]
        raw.append(ft)
        for i in range(stride):
            left = line[i - 3] if i >= 3 else 0
            ul = prev[i - 3] if i >= 3 else 0
            if ft == 0:
                v = line[i]
            elif ft == 1:
                v = line[i] - left
            elif ft == 2:
                v = line[i] - prev[i]
            elif ft == 3:
                v = line[i] - ((left + prev[i]) >> 1)
            else:
                v = line[i] - _paeth(left, prev[i], ul)
            raw.append(v & 0xFF)
        prev = line

    def chunk(tag, d):
        return (
            struct.pack(">I", len(d))
            + tag
            + d
            + struct.pack(">I", zlib.crc32(tag + d) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_png_all_filter_types_reconstruct():
    """Sub/Up/Average/Paeth reconstruction matches the spec: a PNG
    forward-filtered by an independent reference implementation (one
    filter type per row, cycling through all five) decodes to the
    original pixels."""
    import random

    from kafka_stream_spark.operators.multimodal import decode_png

    rnd = random.Random(13)
    w, h = 9, 10
    rgb = bytes(rnd.randrange(256) for _ in range(w * h * 3))
    payload = _forward_filter_png(w, h, rgb, [0, 1, 2, 3, 4])
    assert decode_png(payload) == (w, h, rgb)


def test_png_gray_and_rgba_paths():
    """Color types 0 (gray→RGB replicate) and 6 (RGBA→drop alpha)."""
    import struct
    import zlib

    from kafka_stream_spark.operators.multimodal import _PNG_SIG, decode_png

    def chunk(tag, d):
        return (
            struct.pack(">I", len(d))
            + tag
            + d
            + struct.pack(">I", zlib.crc32(tag + d) & 0xFFFFFFFF)
        )

    # 2x2 grayscale
    gray = bytes([10, 200, 30, 99])
    raw = b"\x00" + gray[0:2] + b"\x00" + gray[2:4]
    p = (
        _PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    w, h, rgb = decode_png(p)
    assert (w, h) == (2, 2)
    assert rgb[0:3] == bytes([10, 10, 10]) and rgb[9:12] == bytes([99, 99, 99])

    # 1x2 RGBA
    rgba = bytes([1, 2, 3, 255, 7, 8, 9, 0])
    raw = b"\x00" + rgba[0:4] + b"\x00" + rgba[4:8]
    p = (
        _PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 2, 8, 6, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    assert decode_png(p) == (1, 2, bytes([1, 2, 3, 7, 8, 9]))
