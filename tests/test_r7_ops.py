"""Round-7 additions: stdlib TIFF and MP3 header parsers (the last
import-gated formats reachable without entropy decoding), and the
structure-preserving embeddings replication behind the ANN scaling
decades."""

import struct

import numpy as np
import pytest


# --- TIFF ------------------------------------------------------------


def _minimal_tiff(w: int, h: int, bo: str = "little", long_type: bool = False) -> bytes:
    """First IFD with ImageWidth/ImageLength entries only."""
    import struct as st

    e = "<" if bo == "little" else ">"
    magic = b"II*\x00" if bo == "little" else b"MM\x00*"
    ifd_off = 8
    entries = []
    for tag, val in ((256, w), (257, h)):
        if long_type:
            entries.append(st.pack(e + "HHI I".replace(" ", ""), tag, 4, 1, val))
        else:
            # SHORT: left-justified in the 4-byte value field
            entries.append(
                st.pack(e + "HHI", tag, 3, 1) + st.pack(e + "H", val) + b"\x00\x00"
            )
    body = st.pack(e + "H", len(entries)) + b"".join(entries) + st.pack(e + "I", 0)
    return magic + st.pack(e + "I", ifd_off) + body


def test_tiff_dims_both_byte_orders(spark):
    from myodish_peak_analysis_spark.llm.multimodal import (
        MEDIA_SCHEMA,
        _parse_image_header,
        image_metadata,
    )

    assert _parse_image_header(_minimal_tiff(640, 480)) == (640, 480)
    assert _parse_image_header(_minimal_tiff(31, 7, bo="big")) == (31, 7)
    assert _parse_image_header(_minimal_tiff(1920, 1080, long_type=True)) == (
        1920,
        1080,
    )
    assert _parse_image_header(
        _minimal_tiff(99, 44, bo="big", long_type=True)
    ) == (99, 44)
    # truncated mid-IFD must return None, not garbage
    assert _parse_image_header(_minimal_tiff(640, 480)[:14]) is None
    # zero dims are corrupt
    assert _parse_image_header(_minimal_tiff(0, 480)) is None

    media = spark.createDataFrame(
        [
            (1, "image", bytearray(_minimal_tiff(800, 600)), "s"),
            (2, "image", bytearray(_minimal_tiff(12, 34, bo="big")), "s"),
        ],
        MEDIA_SCHEMA,
    )
    rows = {r.media_id: r for r in image_metadata(media, fake=False).collect()}
    assert (rows[1].width, rows[1].height) == (800, 600)
    assert (rows[2].width, rows[2].height) == (12, 34)


# --- MP3 -------------------------------------------------------------


def _mp3_frame(kbps: int, rate: int = 44100, version: int = 3) -> bytes:
    """One MPEG Layer III frame (header + zero payload). version 3 =
    MPEG1 (1152 samples), 2 = MPEG2 (576 samples)."""
    v1 = {32: 1, 40: 2, 48: 3, 56: 4, 64: 5, 80: 6, 96: 7, 112: 8,
          128: 9, 160: 10, 192: 11, 224: 12, 256: 13, 320: 14}
    v2 = {8: 1, 16: 2, 24: 3, 32: 4, 40: 5, 48: 6, 56: 7, 64: 8,
          80: 9, 96: 10, 112: 11, 128: 12, 144: 13, 160: 14}
    rates = {3: (44100, 48000, 32000), 2: (22050, 24000, 16000)}
    bit_idx = (v1 if version == 3 else v2)[kbps]
    rate_idx = rates[version].index(rate)
    b1 = 0xFF
    b2 = 0xE0 | (version << 3) | (1 << 1) | 1  # layer bits 01 = III
    b3 = (bit_idx << 4) | (rate_idx << 2)
    samples = 1152 if version == 3 else 576
    frame_len = samples // 8 * 1000 * kbps // rate
    return bytes([b1, b2, b3, 0]) + b"\x00" * (frame_len - 4)


def test_mp3_duration_cbr_vbr_id3(spark):
    from myodish_peak_analysis_spark.llm.multimodal import (
        MEDIA_SCHEMA,
        _parse_mp3_header,
        audio_metadata,
    )

    # CBR: 38 MPEG1 frames at 44100 ≈ 0.9925 s
    cbr = b"".join(_mp3_frame(128) for _ in range(38))
    dur, sr = _parse_mp3_header(cbr)
    assert sr == 44100
    assert dur == pytest.approx(38 * 1152 / 44100)

    # VBR: mixed bitrates — the frame walk must follow each frame's
    # own declared length (a CBR filesize shortcut would be wrong)
    vbr = _mp3_frame(128) + _mp3_frame(320) + _mp3_frame(64) + _mp3_frame(192)
    dur, sr = _parse_mp3_header(vbr)
    assert dur == pytest.approx(4 * 1152 / 44100)

    # MPEG2 Layer III: 576 samples per frame
    m2 = b"".join(_mp3_frame(64, rate=22050, version=2) for _ in range(10))
    dur, sr = _parse_mp3_header(m2)
    assert sr == 22050
    assert dur == pytest.approx(10 * 576 / 22050)

    # leading ID3v2 tag (synchsafe size) is skipped
    tag_body = b"\x00" * 300
    id3 = b"ID3\x04\x00\x00" + bytes(
        [(300 >> 21) & 0x7F, (300 >> 14) & 0x7F, (300 >> 7) & 0x7F, 300 & 0x7F]
    ) + tag_body
    dur, sr = _parse_mp3_header(id3 + cbr)
    assert dur == pytest.approx(38 * 1152 / 44100)

    # trailing garbage (e.g. ID3v1 'TAG') stops the walk cleanly
    dur, sr = _parse_mp3_header(cbr + b"TAG" + b"\x00" * 125)
    assert dur == pytest.approx(38 * 1152 / 44100)

    # non-MP3 payloads: None, not garbage
    assert _parse_mp3_header(b"\x00" * 64) is None
    assert _parse_mp3_header(b"") is None

    # the distributed decode path
    media = spark.createDataFrame(
        [(7, "audio", bytearray(cbr), "s")], MEDIA_SCHEMA
    )
    row = audio_metadata(media, fake=False).collect()[0]
    assert row.sample_rate == 44100
    assert row.duration_s == pytest.approx(38 * 1152 / 44100)


# --- embeddings replication (ANN scaling decades) --------------------


def test_replicate_emb_preserves_within_copy_geometry(spark):
    """The decade harness's signed-permutation replication: within a
    copy every inner product and norm is preserved (orthogonal
    transform), copy 0 is verbatim, and no cross-copy exact duplicates
    appear — the embeddings analog of the docs family's bijective
    token-prefix replication."""
    from myodish_peak_analysis_spark.schema import read_table
    from tools.bench_scaling import _replicate_emb

    base = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    n = base.count()
    rep = _replicate_emb(base, 3)
    rows = rep.collect()
    assert len(rows) == 3 * n
    assert len({r.vec_id for r in rows}) == 3 * n

    by_copy = {}
    for r in rows:
        c = r.vec_id // 1_000_000_000
        by_copy.setdefault(c, {})[r.vec_id % 1_000_000_000] = np.array(
            r.embedding, dtype=np.float64
        )
    orig = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in base.collect()}

    ids = sorted(orig)[:12]
    for vid in ids:
        assert np.array_equal(by_copy[0][vid], orig[vid])  # copy 0 verbatim
    for c in (1, 2):
        for i in range(0, 10, 2):
            a, b = ids[i], ids[i + 1]
            assert by_copy[c][a] @ by_copy[c][b] == pytest.approx(
                orig[a] @ orig[b], rel=1e-5, abs=1e-5
            )
            assert by_copy[c][a] @ by_copy[c][a] == pytest.approx(
                orig[a] @ orig[a], rel=1e-5
            )
    for vid in ids[:6]:  # rotated copies are never exact duplicates
        assert not np.array_equal(by_copy[0][vid], by_copy[1][vid])
        assert not np.array_equal(by_copy[1][vid], by_copy[2][vid])


# --- ISOBMFF (AVIF/HEIF images, MP4 video) ---------------------------


def _box(typ: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + typ + body


def _ispe(w: int, h: int) -> bytes:
    return _box(b"ispe", b"\x00" * 4 + struct.pack(">II", w, h))


def _minimal_avif(with_pitm: bool = True) -> bytes:
    """ftyp + meta(pitm, iprp(ipco(ispe×2), ipma)) + mdat. The primary
    item deliberately maps to the SMALLER ispe (property 2) so the test
    distinguishes pitm/ipma resolution from the largest-area fallback."""
    ftyp = _box(b"ftyp", b"avif" + b"\x00" * 4 + b"avifmif1")
    pitm = _box(b"pitm", b"\x00" * 4 + struct.pack(">H", 1))
    ipco = _box(b"ipco", _ispe(1920, 1080) + _ispe(320, 240))
    # ipma v0/flags0: 1 entry — item 1 → property index 2
    ipma = _box(
        b"ipma", b"\x00" * 4 + struct.pack(">I", 1) + struct.pack(">H", 1) + bytes([1, 2])
    )
    inner = (pitm + _box(b"iprp", ipco + ipma)) if with_pitm else _box(
        b"iprp", ipco
    )
    meta = _box(b"meta", b"\x00" * 4 + inner)
    return ftyp + meta + _box(b"mdat", b"\xab" * 16)


def test_avif_dims_ispe_resolution(spark):
    from myodish_peak_analysis_spark.llm.multimodal import (
        MEDIA_SCHEMA,
        _parse_image_header,
        image_metadata,
    )

    # pitm→ipma chain picks the PRIMARY item's ispe, not the largest
    assert _parse_image_header(_minimal_avif()) == (320, 240)
    # without the association chain: largest-area ispe fallback
    assert _parse_image_header(_minimal_avif(with_pitm=False)) == (1920, 1080)
    # non-image ISOBMFF brands and truncated containers → None
    mp4ish = _box(b"ftyp", b"isom" + b"\x00" * 4 + b"mp42")
    assert _parse_image_header(mp4ish) is None
    assert _parse_image_header(_minimal_avif()[:20]) is None

    media = spark.createDataFrame(
        [(1, "image", bytearray(_minimal_avif()), "s")], MEDIA_SCHEMA
    )
    row = image_metadata(media, fake=False).collect()[0]
    assert (row.width, row.height) == (320, 240)


def _minimal_mp4(v1: bool = False, timescale: int = 1000, dur: int = 5500) -> bytes:
    if v1:
        mvhd = _box(
            b"mvhd",
            b"\x01" + b"\x00" * 3 + b"\x00" * 16
            + struct.pack(">I", timescale) + struct.pack(">Q", dur),
        )
    else:
        mvhd = _box(
            b"mvhd",
            b"\x00" * 4 + b"\x00" * 8
            + struct.pack(">II", timescale, dur),
        )
    trak = _box(b"trak", b"")
    moov = _box(b"moov", mvhd + trak + trak)
    return _box(b"ftyp", b"isom" + b"\x00" * 4 + b"isommp42") + moov + _box(
        b"mdat", b"\x00" * 8
    )


def test_mp4_duration_and_video_metadata(spark):
    from myodish_peak_analysis_spark.llm.multimodal import (
        MEDIA_SCHEMA,
        _parse_mp4_duration,
        video_metadata,
    )

    assert _parse_mp4_duration(_minimal_mp4()) == (5.5, 2)
    assert _parse_mp4_duration(_minimal_mp4(v1=True, timescale=90000, dur=90000 * 7)) == (
        7.0,
        2,
    )
    assert _parse_mp4_duration(b"\x00" * 32) is None
    assert _parse_mp4_duration(_minimal_mp4()[:24]) is None

    media = spark.createDataFrame(
        [
            (1, "video", bytearray(_minimal_mp4()), "s"),
            (2, "image", bytearray(b"ignored"), "s"),
        ],
        MEDIA_SCHEMA,
    )
    rows = video_metadata(media, fake=False).collect()
    assert len(rows) == 1 and rows[0].duration_s == 5.5 and rows[0].n_tracks == 2

    with pytest.raises(Exception, match="unrecognized video container"):
        bad = spark.createDataFrame(
            [(3, "video", bytearray(b"not a container"), "s")], MEDIA_SCHEMA
        )
        video_metadata(bad, fake=False).collect()


# --- OGG (Vorbis / Opus granule-position duration) -------------------


def _ogg_page(serial: int, granule: int, body: bytes, seq: int = 0, htype: int = 0) -> bytes:
    segs = []
    rem = len(body)
    while rem >= 255:
        segs.append(255)
        rem -= 255
    segs.append(rem)
    return (
        b"OggS"
        + bytes([0, htype])
        + struct.pack("<q", granule)
        + struct.pack("<III", serial, seq, 0)
        + bytes([len(segs)])
        + bytes(segs)
        + body
    )


def test_ogg_duration_vorbis_opus(spark):
    from myodish_peak_analysis_spark.llm.multimodal import (
        MEDIA_SCHEMA,
        _parse_ogg_header,
        audio_metadata,
    )

    vorbis_id = b"\x01vorbis" + struct.pack("<I", 0) + bytes([2]) + struct.pack(
        "<I", 44100
    ) + b"\x00" * 8
    stream = (
        _ogg_page(7, 0, vorbis_id, 0, 2)
        + _ogg_page(7, 44100 * 2, b"\xaa" * 300, 1)
        + _ogg_page(7, 44100 * 3, b"\xbb" * 50, 2, 4)
    )
    assert _parse_ogg_header(stream) == (3.0, 44100)

    # Opus: granules tick at 48 kHz regardless of input rate; pre-skip
    # subtracted per RFC 7845
    opus_id = b"OpusHead" + bytes([1, 2]) + struct.pack("<H", 312) + struct.pack(
        "<I", 16000
    ) + b"\x00" * 3
    ostream = _ogg_page(9, 0, opus_id, 0, 2) + _ogg_page(
        9, 48000 + 312, b"\xcc" * 40, 1, 4
    )
    dur, sr = _parse_ogg_header(ostream)
    assert dur == 1.0 and sr == 16000

    # multiplexed: a non-audio logical stream first — its pages are
    # ignored once the audio serial locks on
    skel = _ogg_page(5, 0, b"fishead\x00" + b"\x00" * 20, 0, 2)
    muxed = skel + stream + _ogg_page(5, 999999, b"\x00" * 4, 1, 4)
    assert _parse_ogg_header(muxed) == (3.0, 44100)

    assert _parse_ogg_header(b"") is None
    assert _parse_ogg_header(b"OggS" + b"\x00" * 10) is None
    # granule -1 (no complete packet ends on the page) never counts —
    # only the ID page's granule 0 remains, so duration is honestly 0
    nog = _ogg_page(7, 0, vorbis_id, 0, 2) + _ogg_page(7, -1, b"\xdd" * 10, 1)
    assert _parse_ogg_header(nog) == (0.0, 44100)

    media = spark.createDataFrame(
        [(1, "audio", bytearray(stream), "s"), (2, "audio", bytearray(ostream), "s")],
        MEDIA_SCHEMA,
    )
    got = {r.media_id: (r.duration_s, r.sample_rate) for r in audio_metadata(
        media, fake=False
    ).collect()}
    assert got == {1: (3.0, 44100), 2: (1.0, 16000)}


def test_ivf_pq_search_exact_under_full_coverage(spark):
    """External-query serving collapses to EXACT brute-force cosine
    top-k when the recall dials are wide open (nprobe = n_clusters,
    shortlist >= N) — proving probe/posting-list/ADC/re-rank lose
    nothing structurally; production tightens the dials for scale."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from myodish_peak_analysis_spark.llm import similarity as S
    from myodish_peak_analysis_spark.schema import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    idx = S.fit_ivf_pq_index(emb, n_clusters=4)
    # external queries = corpus vectors under FRESH ids (not members)
    qs = emb.filter(F.col("vec_id") % 100 == 0).select(
        (F.col("vec_id") + 100000).alias("query_id"), "embedding"
    )
    got = {
        (r.query_id, r.rank): (r.vec_id, r.cosine)
        for r in S.ivf_pq_search(qs, idx, k=5, nprobe=4, shortlist=600).collect()
    }

    qn = S._with_norm(
        qs.select(F.col("query_id").alias("vec_id"), "embedding")
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("_norm").alias("q_norm"),
    )
    cn = S._with_norm(emb).select(
        "vec_id",
        F.col("embedding").alias("c_emb"),
        F.col("_norm").alias("c_norm"),
    )
    brute = qn.crossJoin(cn).select(
        "query_id",
        "vec_id",
        F.round(
            S._dot("q_emb", "c_emb") / (F.col("q_norm") * F.col("c_norm")), 6
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    expect = {
        (r.query_id, r.rank): (r.vec_id, r.cosine)
        for r in brute.withColumn("rank", F.row_number().over(w))
        .filter("rank <= 5")
        .collect()
    }
    assert got == expect
    # the coincident corpus twin is a REAL hit: rank 1 at cosine 1.0
    for (qid, rank), (vid, cos) in got.items():
        if rank == 1:
            assert vid == qid - 100000 and cos == 1.0


def test_ivf_pq_index_save_load_search_identical(spark, tmp_path):
    """The persisted index answers searches identically to the fitted
    one — the fit-once/serve-forever contract: a nightly fit job writes
    parquet, serving jobs (or a restarted cluster) load it and skip
    both Lloyd fits entirely."""
    from pyspark.sql import functions as F

    from myodish_peak_analysis_spark.llm import similarity as S
    from myodish_peak_analysis_spark.schema import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    fitted = S.fit_ivf_pq_index(emb, n_clusters=4)
    S.save_ivf_pq_index(fitted, str(tmp_path / "idx"))
    loaded = S.load_ivf_pq_index(spark, str(tmp_path / "idx"))
    assert (loaded.m, loaded.n_centroids) == (fitted.m, fitted.n_centroids)

    qs = emb.filter(F.col("vec_id") % 40 == 0).select(
        (F.col("vec_id") + 5000).alias("query_id"), "embedding"
    )

    def res(idx):
        return {
            (r.query_id, r.rank): (r.vec_id, r.cosine)
            for r in S.ivf_pq_search(qs, idx, k=5).collect()
        }

    assert res(loaded) == res(fitted)
    # the corpus-query route accepts the loaded index too
    got = {
        (r.query_id, r.rank): r.vec_id
        for r in S.ivf_pq_topk(emb, index=loaded).collect()
    }
    expect = {
        (r.query_id, r.rank): r.vec_id
        for r in S.ivf_pq_topk(emb, index=fitted).collect()
    }
    assert got == expect


# --- Matroska / WebM (EBML Info walk) ---------------------------------


def _ebml_el(eid: int, body: bytes) -> bytes:
    """Minimal EBML element: ID bytes verbatim + 1-byte size (marker
    0x80 | len, enough for test bodies < 127 bytes) + body."""
    id_bytes = eid.to_bytes((eid.bit_length() + 7) // 8, "big")
    assert len(body) < 127
    return id_bytes + bytes([0x80 | len(body)]) + body


def _minimal_mkv(
    dur_ticks: float = 5500.0,
    scale: int | None = None,
    n_tracks: int = 2,
    f64: bool = False,
) -> bytes:
    info = b""
    if scale is not None:
        info += _ebml_el(0x2AD7B1, scale.to_bytes(4, "big"))
    info += _ebml_el(0x4489, struct.pack(">d" if f64 else ">f", dur_ticks))
    tracks = b"".join(_ebml_el(0xAE, b"\x00") for _ in range(n_tracks))
    segment = _ebml_el(0x1549A966, info) + _ebml_el(0x1654AE6B, tracks)
    return _ebml_el(0x1A45DFA3, b"\x00") + _ebml_el(0x18538067, segment)


def test_mkv_duration_and_video_metadata(spark):
    from myodish_peak_analysis_spark.llm.multimodal import (
        MEDIA_SCHEMA,
        _parse_mkv_duration,
        video_metadata,
    )

    # default TimecodeScale = 1e6 ns => ticks are milliseconds
    assert _parse_mkv_duration(_minimal_mkv(5500.0)) == (5.5, 2)
    # explicit scale: 1e9 ns ticks = seconds; f64 Duration; 1 track
    got = _parse_mkv_duration(
        _minimal_mkv(7.0, scale=1_000_000_000, n_tracks=1, f64=True)
    )
    assert got == (7.0, 1)
    assert _parse_mkv_duration(b"\x1aE\xdf\xa3") in (None,)  # truncated
    assert _parse_mkv_duration(b"\x00" * 32) is None  # not EBML

    media = spark.createDataFrame(
        [
            (1, "video", bytearray(_minimal_mkv(2500.0, n_tracks=3)), "s"),
            (2, "video", bytearray(_minimal_mp4()), "s"),
        ],
        MEDIA_SCHEMA,
    )
    rows = {r.media_id: (r.duration_s, r.n_tracks) for r in video_metadata(
        media, fake=False
    ).collect()}
    # MKV and MP4 decode through the SAME mapInPandas route
    assert rows == {1: (2.5, 3), 2: (5.5, 2)}


def _minimal_avi(us_per_frame: int = 40000, frames: int = 250, streams: int = 2) -> bytes:
    avih = (
        b"avih" + struct.pack("<I", 56)
        + struct.pack("<I", us_per_frame)       # dwMicroSecPerFrame
        + b"\x00" * 12                           # MaxBytesPerSec/Padding/Flags
        + struct.pack("<I", frames)              # dwTotalFrames
        + b"\x00" * 4                            # dwInitialFrames
        + struct.pack("<I", streams)             # dwStreams
        + b"\x00" * 28
    )
    hdrl = b"LIST" + struct.pack("<I", 4 + len(avih)) + b"hdrl" + avih
    return b"RIFF" + struct.pack("<I", 4 + len(hdrl)) + b"AVI " + hdrl


def test_avi_duration_and_video_metadata(spark):
    from myodish_peak_analysis_spark.llm.multimodal import (
        MEDIA_SCHEMA,
        _parse_avi_duration,
        video_metadata,
    )

    # 250 frames at 25 fps (40000 us/frame) = 10 s, 2 streams
    assert _parse_avi_duration(_minimal_avi()) == (10.0, 2)
    assert _parse_avi_duration(b"RIFF\x00\x00\x00\x00WAVE") is None  # WAV, not AVI
    assert _parse_avi_duration(b"\x00" * 16) is None

    media = spark.createDataFrame(
        [(1, "video", bytearray(_minimal_avi(frames=75, streams=1)), "s")],
        MEDIA_SCHEMA,
    )
    rows = video_metadata(media, fake=False).collect()
    assert rows[0].duration_s == 3.0 and rows[0].n_tracks == 1


def _f80(rate: float) -> bytes:
    """IEEE 754 80-bit extended float (AIFF sampleRate encoding)."""
    import math

    m, e = math.frexp(rate)  # rate = m * 2**e, m in [0.5, 1)
    mant = int(m * (1 << 64))
    return struct.pack(">H", 16383 + e - 1) + mant.to_bytes(8, "big")


def _minimal_aiff(frames: int = 44100 * 2, rate: float = 44100.0) -> bytes:
    comm = (
        b"COMM" + struct.pack(">I", 18)
        + struct.pack(">hIh", 1, frames, 16) + _f80(rate)
    )
    return b"FORM" + struct.pack(">I", 4 + len(comm)) + b"AIFF" + comm


def _adts_frames(n: int = 3, sfi: int = 8, body: int = 13) -> bytes:
    out = b""
    flen = 7 + body
    for _ in range(n):
        h = bytearray(7)
        h[0] = 0xFF
        h[1] = 0xF1  # MPEG-4, layer 00, no CRC
        h[2] = (1 << 6) | (sfi << 2)  # AAC-LC profile, sampling index
        h[3] = (flen >> 11) & 0x03
        h[4] = (flen >> 3) & 0xFF
        h[5] = ((flen & 0x07) << 5) | 0x1F
        h[6] = 0xFC
        out += bytes(h) + b"\x00" * body
    return out


def test_aiff_aac_duration_and_audio_metadata(spark):
    from myodish_peak_analysis_spark.llm.multimodal import (
        MEDIA_SCHEMA,
        _parse_aac_adts,
        _parse_aiff_header,
        audio_metadata,
    )

    assert _parse_aiff_header(_minimal_aiff()) == (2.0, 44100)
    assert _parse_aiff_header(_minimal_aiff(48000 * 3, 48000.0)) == (3.0, 48000)
    assert _parse_aiff_header(b"FORM\x00\x00\x00\x04WAVE") is None
    assert _parse_aiff_header(b"\x00" * 16) is None

    # 3 AAC frames at sampling index 8 (16 kHz): 3*1024/16000 = 0.192 s
    assert _parse_aac_adts(_adts_frames()) == (0.192, 16000)
    assert _parse_aac_adts(_adts_frames()[:-1]) is None  # truncated tail
    assert _parse_aac_adts(b"\xff\xfb" + b"\x00" * 30) is None  # MP3 sync

    media = spark.createDataFrame(
        [
            (1, "audio", bytearray(_minimal_aiff()), "s"),
            (2, "audio", bytearray(_adts_frames(n=25)), "s"),
        ],
        MEDIA_SCHEMA,
    )
    got = {r.media_id: (r.duration_s, r.sample_rate) for r in audio_metadata(
        media, fake=False
    ).collect()}
    assert got == {1: (2.0, 44100), 2: (1.6, 16000)}


# --- property tests: the round-7 container parsers round-trip --------


def test_container_parsers_roundtrip_property():
    """Random parameters through the synthetic builders must come back
    exactly (duration to float64 arithmetic, rates/track counts
    integral) — pinning the offset arithmetic of all four round-7
    parsers against the values that produced the bytes."""
    from hypothesis import given, settings, strategies as st

    from myodish_peak_analysis_spark.llm.multimodal import (
        _parse_aac_adts,
        _parse_aiff_header,
        _parse_avi_duration,
        _parse_mkv_duration,
    )

    @given(
        st.floats(min_value=1.0, max_value=1e7, allow_nan=False),
        st.sampled_from([None, 1_000, 1_000_000, 1_000_000_000]),
        st.integers(min_value=0, max_value=9),
        st.booleans(),
    )
    @settings(max_examples=150, deadline=None)
    def mkv(dur_ticks, scale, n_tracks, f64):
        import struct as _s

        stored = _s.unpack(">d" if f64 else ">f", _s.pack(">d" if f64 else ">f", dur_ticks))[0]
        got = _parse_mkv_duration(
            _minimal_mkv(dur_ticks, scale=scale, n_tracks=n_tracks, f64=f64)
        )
        eff = scale if scale is not None else 1_000_000
        assert got == (stored * eff / 1e9, n_tracks)

    @given(
        st.integers(min_value=0, max_value=2**31 - 1),
        st.sampled_from([8000.0, 11025.0, 22050.5, 44100.0, 48000.0, 96000.0]),
    )
    @settings(max_examples=150, deadline=None)
    def aiff(frames, rate):
        got = _parse_aiff_header(_minimal_aiff(frames, rate))
        assert got == (frames / rate, int(round(rate)))

    @given(
        st.integers(min_value=1, max_value=40),
        st.integers(min_value=0, max_value=12),
        st.integers(min_value=0, max_value=50),
    )
    @settings(max_examples=150, deadline=None)
    def adts(n, sfi, body):
        from myodish_peak_analysis_spark.llm.multimodal import _AAC_RATES

        got = _parse_aac_adts(_adts_frames(n=n, sfi=sfi, body=body))
        assert got == (n * 1024 / _AAC_RATES[sfi], _AAC_RATES[sfi])

    @given(
        st.integers(min_value=1, max_value=10**6),
        st.integers(min_value=1, max_value=10**6),
        st.integers(min_value=0, max_value=64),
    )
    @settings(max_examples=150, deadline=None)
    def avi(us, frames, streams):
        got = _parse_avi_duration(
            _minimal_avi(us_per_frame=us, frames=frames, streams=streams)
        )
        assert got == (frames * us / 1e6, streams)

    mkv()
    aiff()
    adts()
    avi()


def _mjpeg_avi(frames: list[bytes]) -> bytes:
    """Minimal MJPEG AVI: the hdrl from _minimal_avi + a movi LIST of
    00dc JPEG chunks (the codec-free frame-extraction layout)."""
    movi_body = b"movi"
    for f in frames:
        movi_body += b"00dc" + struct.pack("<I", len(f)) + f + (b"\x00" if len(f) & 1 else b"")
    movi = b"LIST" + struct.pack("<I", len(movi_body)) + movi_body
    base = _minimal_avi(us_per_frame=40000, frames=len(frames), streams=1)
    return base + movi  # RIFF size field ignored by the walk past hdrl


def test_sample_frames_real_mjpeg_avi(spark):
    """Codec-free REAL frame sampling: MJPEG-in-AVI movi chunks are
    complete JPEGs; the frame hash is over the actual encoded frame
    bytes, and every_n strides the frame sequence."""
    import hashlib

    from tests.test_r6_ops import _minimal_jpeg
    from myodish_peak_analysis_spark.llm.multimodal import (
        MEDIA_SCHEMA,
        sample_frames,
    )

    jpegs = [_minimal_jpeg(16 + i, 9) for i in range(7)]
    avi = _mjpeg_avi(jpegs)
    media = spark.createDataFrame(
        [(1, "video", bytearray(avi), "s")], MEDIA_SCHEMA
    )
    got = {(r.frame_idx): r.frame_hash for r in sample_frames(
        media, every_n=3, fake=False
    ).collect()}
    expect = {i: hashlib.md5(jpegs[i]).hexdigest() for i in (0, 3, 6)}
    assert got == expect

    # entropy-coded containers still refuse loudly without ffmpeg
    import pytest as _pt

    mp4 = spark.createDataFrame(
        [(2, "video", bytearray(_minimal_mp4()), "s")], MEDIA_SCHEMA
    )
    with _pt.raises(Exception, match="stdlib-extractable"):
        sample_frames(mp4, fake=False).collect()


def test_tfidf_cosine_pairs_fixture(spark):
    """Shingle tf-idf cosine: near-identical docs pair with high
    cosine; a single-shared-shingle pair is dropped by min_shared;
    docs shorter than the gram contribute nothing (the descending-
    sequence guard)."""
    from myodish_peak_analysis_spark.llm.text import tfidf_cosine_pairs

    base = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, base, "en", "s", len(base)),
        (2, base + " iota", "en", "s", len(base) + 5),   # near-dup of 1
        (3, "one two three four five six", "en", "s", 27),
        (4, "zzz alpha beta gamma yyy xxx www", "en", "s", 31),  # 1 shared shingle w/ 1,2
        (5, "xy zw", "en", "s", 5),                      # shorter than gram
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    got = {(r.doc_a, r.doc_b): (r.shared_terms, r.cosine) for r in
           tfidf_cosine_pairs(docs, min_cosine=0.1, max_df=3).collect()}
    assert set(got) == {(1, 2)}
    shared, cos = got[(1, 2)]
    # doc1 has 6 shingles, doc2 has 7; 6 shared, all weights equal
    # (every shingle df<=2 -> w = tf * (5 DIV df)) except the shared
    # ones have df=2 (w=2) and iota-shingles df=1 (w=5)
    assert shared == 6
    import math

    # N=5. Five shared shingles have df=2 (w = 5 DIV 2 = 2); "alpha
    # beta gamma" also occurs in doc4 -> df=3 (w = 5 DIV 3 = 1);
    # doc2's extra "eta theta iota" has df=1 (w=5). So
    # dot = 5*4 + 1*1 = 21, n1^2 = 5*4+1 = 21, n2^2 = 21 + 25 = 46.
    expect = round(21 / (math.sqrt(21) * math.sqrt(46)), 6)
    assert cos == expect
    # doc 5 (2 tokens < gram=3) must not crash or contribute terms
    solo = tfidf_cosine_pairs(
        docs.filter("doc_id >= 4"), min_cosine=0.0, min_shared=1
    ).collect()
    assert solo == []
