"""Event-time windows and sessions (streaming/) + multimodal span ops."""

import datetime as dt

import pytest

from named_architecture_entity_recognition_spark.operators.media import (
    extract_media_features,
    media_spans,
)
from named_architecture_entity_recognition_spark.streaming.sessions import (
    sessionize_batch,
)
from named_architecture_entity_recognition_spark.streaming.stream import (
    windowed_event_counts,
)
from named_architecture_entity_recognition_spark.synth import synth_documents


@pytest.fixture(scope="module")
def docs(spark):
    return synth_documents(
        spark, 12, seed=11, gazetteer_size=20, sentences_lo=5,
        sentences_hi=20, media_ratio=0.5,
    )


def test_media_spans_extracted(docs):
    m = media_spans(docs)
    assert m.count() > 0
    kinds = {r.kind for r in m.select("kind").distinct().collect()}
    assert kinds <= {"image", "diagram"} and kinds


def test_media_features_deterministic(docs):
    f1 = extract_media_features(docs, dim=8)
    f2 = extract_media_features(docs.repartition(5), dim=8)
    a = {(r.media_ref): (r.width, r.height, tuple(r.embedding)) for r in f1.collect()}
    b = {(r.media_ref): (r.width, r.height, tuple(r.embedding)) for r in f2.collect()}
    assert a == b
    w, h, vec = next(iter(a.values()))
    assert 64 <= w <= 2048 and 64 <= h <= 2048 and len(vec) == 8


def test_windowed_event_counts_batch(spark):
    """Tumbling event-time windows: per (window, type) the count and
    the rounded value sum equal a plain-Python bucketing of the same
    events."""
    base = dt.datetime(2026, 1, 1, 0, 0, 0)
    rows = [
        (i, base + dt.timedelta(minutes=i * 3), i % 4,
         "click" if i % 2 else "view", i * 1.25)
        for i in range(40)
    ]
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double",
    ).repartition(3)

    acc = {}
    for _, ts, _, typ, v in rows:
        minute = (ts - base) // dt.timedelta(minutes=1)
        start = base + dt.timedelta(minutes=minute - minute % 10)
        n, s = acc.get((start, typ), (0, 0.0))
        acc[(start, typ)] = (n + 1, s + v)
    expected = {
        (st, st + dt.timedelta(minutes=10), typ): (n, round(s, 4))
        for (st, typ), (n, s) in acc.items()
    }
    got = {
        (r.window_start, r.window_end, r.event_type): (
            r.n_events, r.sum_value,
        )
        for r in windowed_event_counts(
            events, window="10 minutes", watermark="5 minutes"
        ).collect()
    }
    assert got == expected
    # 40 events over 120 minutes: 12 tumbling windows x 2 event types
    assert len(expected) == 24


def test_sessionize_batch_session_bounds(spark):
    """Sessions split where a user's gap reaches 30 minutes (exactly
    30 splits, 29 does not); bounds, counts and sums equal a
    plain-Python walk over each user's sorted events."""
    base = dt.datetime(2026, 1, 1)
    rows = []
    for u in range(3):
        t = base + dt.timedelta(minutes=u)
        for s in range(3):
            for i in range(4):
                rows.append((u, t, float(u * 100 + s * 10 + i)))
                t += dt.timedelta(minutes=5)
            t += dt.timedelta(minutes=45)
    for m, v in ((0, 0.5), (29, 1.25), (59, 2.0)):
        rows.append((3, base + dt.timedelta(minutes=m), v))
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, value double"
    ).repartition(2)

    want = set()
    for u in sorted({r[0] for r in rows}):
        evs = sorted((ts, v) for uid, ts, v in rows if uid == u)
        cur = [evs[0]]
        for ts, v in evs[1:]:
            if ts - cur[-1][0] >= dt.timedelta(minutes=30):
                want.add((u, cur[0][0], cur[-1][0], len(cur),
                          round(sum(x for _, x in cur), 4)))
                cur = []
            cur.append((ts, v))
        want.add((u, cur[0][0], cur[-1][0], len(cur),
                  round(sum(x for _, x in cur), 4)))

    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events, r.sum_value)
        for r in sessionize_batch(ev, gap_minutes=30).collect()
    }
    assert got == want
    assert len(got) == 11  # 3 per user for users 0-2, then [0, 29] + [59]
    assert (3, base, base + dt.timedelta(minutes=29), 2, 1.75) in got


def test_decode_ppm_gradient_comments_and_16bit():
    """The pure-numpy PPM parser handles comments, whitespace runs,
    non-solid rasters, and 2-byte samples."""
    import numpy as np
    import pytest

    from named_architecture_entity_recognition_spark.operators.media import (
        decode_ppm,
    )

    # gradient 4x2 with a comment and extra whitespace in the header
    px = np.arange(4 * 2 * 3, dtype=np.uint8).reshape(2, 4, 3)
    buf = b"P6\n# a comment\n 4\t2\n255\n" + px.tobytes()
    w, h, got = decode_ppm(buf)
    assert (w, h) == (4, 2)
    assert (got == px).all()

    # 16-bit samples scale down to 8-bit by maxval
    px16 = np.array([[[65535, 0, 32768]]], dtype=">u2")
    buf16 = b"P6 1 1 65535\n" + px16.tobytes()
    w, h, got16 = decode_ppm(buf16)
    assert (w, h) == (1, 1)
    assert got16[0, 0, 0] == 255 and got16[0, 0, 1] == 0
    assert got16[0, 0, 2] == 32768 * 255 // 65535

    for bad in (b"", b"P5 1 1 255\x00\x00\x00", b"P6 2 2 255\nxx",
                b"P6 1 1 999999\n" + b"\x00" * 6):
        with pytest.raises(ValueError):
            decode_ppm(bad)


def test_extract_ppm_features_decodes_and_quarantines(spark):
    from named_architecture_entity_recognition_spark.operators.media import (
        extract_ppm_features,
        synth_ppm,
    )

    media = spark.createDataFrame(
        [
            ("d1", "m1", bytearray(synth_ppm(3, 2, (10, 20, 30)))),
            ("d2", "m2", bytearray(b"not an image")),
            ("d3", "m3", None),
        ],
        "doc_id string, media_ref string, media_bytes binary",
    )
    rows = {r.doc_id: r for r in extract_ppm_features(media).collect()}
    assert (rows["d1"].width, rows["d1"].height) == (3, 2)
    assert (rows["d1"].mean_r, rows["d1"].mean_g, rows["d1"].mean_b) == (
        10.0, 20.0, 30.0,
    )
    assert rows["d1"].error is None
    assert rows["d2"].error is not None and rows["d2"].width is None
    assert rows["d3"].error is not None


def test_fake_decode_is_md5_portable(spark):
    """Since r4 the fake decoder's features are md5-derived so DuckDB
    can recompute them (q_media_features is fully value-oracled). Pin
    the derivation here in pure Python: any drift in _fake_decode
    breaks the published formula the oracle relies on."""
    import hashlib

    from named_architecture_entity_recognition_spark.operators.media import (
        _fake_decode,
    )

    ref = "media://42"
    w, h, vec = _fake_decode(ref, 4)
    hd = hashlib.md5(ref.encode()).hexdigest()
    assert w == 64 + int(hd[0:4], 16) % 1984
    assert h == 64 + int(hd[4:8], 16) % 1984
    for i, v in enumerate(vec):
        u = int(hashlib.md5(f"{ref}:{i}".encode()).hexdigest()[:8], 16)
        expected = u / 4294967296.0 * 2.0 - 1.0
        assert abs(v - expected) < 2**-24  # one float32 rounding away
        assert -1.0 <= v < 1.0


def test_decode_wav_roundtrip_and_formats():
    """PCM16 WAV decoder inverts the synthetic generator and rejects
    malformed/unsupported input with ValueError (quarantine, not task
    death)."""
    import numpy as np
    import pytest

    from named_architecture_entity_recognition_spark.operators.media import (
        decode_wav,
        synth_wav,
    )

    sr, ch, s = decode_wav(synth_wav(16000, 10, 500, 2))
    assert (sr, ch) == (16000, 1)
    assert s.tolist() == [500, 500, -500, -500, 500, 500, -500, -500, 500, 500]

    with pytest.raises(ValueError, match="RIFF"):
        decode_wav(b"garbage")
    with pytest.raises(ValueError, match="RIFF"):
        decode_wav(b"")
    # non-PCM format code
    buf = bytearray(synth_wav(8000, 4, 100, 1))
    fmt_off = buf.find(b"fmt ") + 8
    buf[fmt_off:fmt_off + 2] = (3).to_bytes(2, "little")  # IEEE float
    with pytest.raises(ValueError, match="PCM only"):
        decode_wav(bytes(buf))
    # truncated data chunk (not whole frames)
    buf = synth_wav(8000, 4, 100, 1)
    with pytest.raises(ValueError):
        decode_wav(buf[:-1] if len(buf) % 2 == 0 else buf[:-2])
    # frame-ALIGNED truncation: the declared data size now overruns the
    # buffer; must quarantine, not silently decode fewer samples
    # (ADVICE r4 — media.py chunk-size bound)
    buf = synth_wav(8000, 4, 100, 1)
    with pytest.raises(ValueError, match="past end of file"):
        decode_wav(buf[:-2])
    # inflated declared data-chunk size likewise quarantines
    buf = bytearray(synth_wav(8000, 4, 100, 1))
    doff = buf.find(b"data") + 4
    buf[doff:doff + 4] = (10_000).to_bytes(4, "little")
    with pytest.raises(ValueError, match="past end of file"):
        decode_wav(bytes(buf))


def test_decode_wav_stereo_mono_mix():
    import numpy as np

    from named_architecture_entity_recognition_spark.operators.media import (
        decode_wav,
    )

    # hand-built 2-channel PCM16: frames (100, 200), (-100, -300)
    samples = np.array([100, 200, -100, -300], dtype="<i2").tobytes()
    hdr = b"RIFF" + (36 + len(samples)).to_bytes(4, "little") + b"WAVE"
    fmt = (
        b"fmt " + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little") + (2).to_bytes(2, "little")
        + (8000).to_bytes(4, "little") + (8000 * 4).to_bytes(4, "little")
        + (4).to_bytes(2, "little") + (16).to_bytes(2, "little")
    )
    buf = hdr + fmt + b"data" + len(samples).to_bytes(4, "little") + samples
    sr, ch, s = decode_wav(buf)
    assert (sr, ch) == (8000, 2)
    assert s.tolist() == [150, -200]


def test_extract_wav_features_quarantines_bad_clips(spark):
    from named_architecture_entity_recognition_spark.operators.media import (
        extract_wav_features,
        synth_wav,
    )

    media = spark.createDataFrame(
        [
            ("d1", "m1", bytearray(synth_wav(8000, 9, 1000, 2))),
            ("d2", "m2", bytearray(b"not audio")),
            ("d3", "m3", None),
        ],
        "doc_id string, media_ref string, media_bytes binary",
    )
    rows = {r.doc_id: r for r in extract_wav_features(media).collect()}
    ok = rows["d1"]
    assert ok.error is None and ok.sample_rate == 8000 and ok.n_samples == 9
    assert ok.rms == 1000.0 and ok.zero_crossings == (9 - 1) // 2
    assert rows["d2"].error is not None and rows["d2"].rms is None
    assert rows["d3"].error is not None
