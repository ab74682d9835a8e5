"""Multimodal plumbing + batched-RPC enrichment tests."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F, types as T

from rootstock_collective_state_sync_spark.operators import multimodal as M
from rootstock_collective_state_sync_spark.sinks import TableCatalog
from rootstock_collective_state_sync_spark.sources import rpc


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(
        [(1, "hello multimodal world"), (2, "x"), (3, "a" * 300)],
        ["doc_id", "text"],
    )


def test_attach_payload_meta(docs):
    mm = M.attach_fake_payload(docs)
    rows = {r.doc_id: r for r in mm.collect()}
    assert bytes(rows[1].payload) == b"hello multimodal world"
    assert rows[1].meta.media_type == "fake/text"
    assert rows[3].meta.size_bytes == 300
    assert rows[1].meta.width is None


def test_extract_features_values(docs):
    feats = {r.doc_id: r for r in M.extract_features(M.attach_fake_payload(docs)).collect()}
    assert feats[2].size_bytes == 1
    assert feats[2].header_hex == b"x".hex()
    assert feats[1].content_md5 == hashlib.md5(b"hello multimodal world").hexdigest()


def test_frame_sample_shapes(docs):
    frames = M.frame_sample(M.attach_fake_payload(docs), every_n_bytes=64, max_frames=4).collect()
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert len(by_doc[2]) == 1  # tiny payload -> 1 frame
    assert len(by_doc[3]) == 4  # 300 bytes / 64 -> capped at 4
    assert bytes(by_doc[3][0].frame) == b"a" * 64


def test_decode_media_stub():
    assert M.decode_media(b"abc", "fake/text") == {"n_bytes": 3, "first_byte": 97}
    with pytest.raises(NotImplementedError, match="image/jpeg"):
        M.decode_media(b"\xff\xd8", "image/jpeg")


def _ppm(width, height, pixels, comment=False):
    """Hand-build a binary P6 payload (netpbm spec): header tokens,
    optional comment line, exactly one whitespace byte, raw RGB."""
    hdr = b"P6\n"
    if comment:
        hdr += b"# hand-built test image\n"
    hdr += f"{width} {height}\n255\n".encode()
    return hdr + bytes(pixels)


def _wav(sample_rate, samples):
    """Hand-build a 16-bit mono PCM WAV (RIFF spec)."""
    import struct

    data = struct.pack(f"<{len(samples)}h", *samples)
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_decode_ppm_real_payload():
    # 2x2 image: red, green, blue, white
    px = [255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 255]
    d = M.decode_media(_ppm(2, 2, px, comment=True), "image/x-portable-pixmap")
    assert (d["width"], d["height"], d["maxval"], d["n_pixels"]) == (2, 2, 255, 4)
    assert d["mean_r"] == (255 + 0 + 0 + 255) / 4
    assert d["mean_g"] == (0 + 255 + 0 + 255) / 4
    assert d["mean_b"] == (0 + 0 + 255 + 255) / 4


def test_decode_ppm_rejects_truncated_and_wide():
    with pytest.raises(ValueError, match="truncated"):
        M.decode_media(_ppm(4, 4, [0] * 10), "image/ppm")
    wide = b"P6\n1 1\n65535\n" + b"\0" * 6
    with pytest.raises(ValueError, match="not supported"):
        M.decode_media(wide, "image/ppm")


def test_decode_wav_real_payload():
    d = M.decode_media(_wav(8000, [0, 1000, -2000, 3000]), "audio/wav")
    assert d["audio_format"] == 1
    assert d["channels"] == 1
    assert d["sample_rate"] == 8000
    assert d["bits_per_sample"] == 16
    assert d["n_frames"] == 4
    assert d["duration_s"] == pytest.approx(4 / 8000)
    assert d["peak"] == 3000


def test_decode_feature_map_distributed(spark):
    """The real codecs run through the Arrow-batched decode stage:
    good payloads yield numeric feature maps, a corrupt payload
    quarantines into decode_error instead of failing the job."""
    px = [10, 20, 30] * 4
    rows = [
        (1, _ppm(2, 2, px), "image/x-portable-pixmap"),
        (2, _wav(16000, [5, -7, 7]), "audio/wav"),
        (3, b"P6 garbage", "image/x-portable-pixmap"),
        (4, b"\x00\x01", "video/mp4"),  # no codec -> quarantined
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary, mt string").select(
        "doc_id",
        "payload",
        F.struct(
            F.col("mt").alias("media_type"),
            F.octet_length("payload").cast("long").alias("size_bytes"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("sample_rate"),
        ).alias("meta"),
    )
    out = {r.doc_id: r for r in M.decode_feature_map(df).collect()}
    assert out[1].decode_error is None and out[1].features["width"] == 2.0
    assert out[1].features["mean_r"] == 10.0
    assert out[2].features["sample_rate"] == 16000.0 and out[2].features["peak"] == 7.0
    assert out[3].decode_error is not None and out[3].features == {}
    assert "video/mp4" in out[4].decode_error


# ---------------------------------------------------------------------------
# RPC multicall enrichment (S6 + J1 + K2)
# ---------------------------------------------------------------------------

PROPOSAL_SCHEMA = T.StructType(
    [
        T.StructField("id", T.BinaryType(), False),
        T.StructField("description", T.StringType(), False),
        T.StructField("rawState", T.IntegerType(), False),
        T.StructField("state", T.StringType(), False),
    ]
)


def pid(i: int) -> bytes:
    return bytes([i]) * 4


def test_refresh_proposal_states(spark, tmp_table_dir):
    table = TableCatalog(spark, tmp_table_dir).table("Proposal").create(
        PROPOSAL_SCHEMA, ["id"], num_buckets=4
    )
    from rootstock_collective_state_sync_spark.sinks import merge_upsert

    merge_upsert(
        table,
        spark.createDataFrame(
            [
                (pid(1), "p1", 0, "Pending"),    # live, will become Active
                (pid(2), "p2", 1, "Active"),     # live, unchanged
                (pid(3), "p3", 7, "Executed"),   # terminal: not refreshed
                (pid(4), "p4", 4, "Succeeded"),  # live, will become Queued
            ],
            PROPOSAL_SCHEMA,
        ),
    )
    v_before = table.current_version()

    def fake_multicall(ids: list[str]) -> dict[str, int]:
        out = {}
        for h in ids:
            i = bytes.fromhex(h[2:])[0]
            # KeyError for any non-live proposal: if the terminal p3
            # were queried, the whole job would fail — this IS the
            # "only live proposals hit the RPC" assertion (the fn runs
            # in worker processes, so a driver-side counter can't see
            # the calls)
            out[h] = {1: 1, 2: 1, 4: 5}[i]  # p1: 0->1, p2: 1->1, p4: 4->5
        return out

    rpc.refresh_proposal_states(table, fake_multicall)
    rows = {bytes(r.id)[0]: (r.rawState, r.state) for r in table.read().collect()}
    assert rows[1] == (1, "Active")      # updated + relabeled
    assert rows[2] == (1, "Active")      # matched but unchanged -> untouched
    assert rows[3] == (7, "Executed")    # terminal state never queried
    assert rows[4] == (5, "Queued")
    assert table.current_version() > v_before


def test_state_label_expr(spark):
    df = spark.createDataFrame([(i,) for i in range(9)], ["rawState"])
    labels = [
        r.l for r in df.select(rpc.state_label_expr().alias("l")).orderBy("rawState").collect()
    ]
    assert labels == list(rpc.PROPOSAL_STATES) + ["Unknown"]


def test_multicall_no_rpc_raises(spark):
    df = spark.createDataFrame([(b"\x01",)], ["id"])
    with pytest.raises(Exception, match="no RPC endpoint"):
        rpc.multicall_states(df).collect()


def test_resize_ppm_nearest_neighbor_exact():
    """Hand-built 2x2 image upscaled to 4x4: each source pixel must
    tile a 2x2 block (nearest-neighbor floor mapping)."""
    from rootstock_collective_state_sync_spark.operators.multimodal import (
        _parse_ppm,
        resize_ppm,
    )

    px = {(0, 0): b"\x10\x20\x30", (1, 0): b"\x40\x50\x60",
          (0, 1): b"\x70\x80\x90", (1, 1): b"\xa0\xb0\xc0"}
    raster = px[(0, 0)] + px[(1, 0)] + px[(0, 1)] + px[(1, 1)]
    ppm = b"P6\n2 2\n255\n" + raster
    out = resize_ppm(ppm, 4, 4)
    w, h, maxval, r = _parse_ppm(out)
    assert (w, h, maxval) == (4, 4, 255)
    for y in range(4):
        for x in range(4):
            want = px[(x // 2, y // 2)]
            got = r[(y * 4 + x) * 3 : (y * 4 + x) * 3 + 3]
            assert got == want, (x, y)
    # downscale back to 1x1 picks the top-left source pixel
    assert _parse_ppm(resize_ppm(ppm, 1, 1))[3] == px[(0, 0)]


def test_resize_images_quarantines_corrupt_payloads(spark):
    from rootstock_collective_state_sync_spark.operators import multimodal as M

    good = b"P6\n2 1\n255\n" + b"\x01\x02\x03\x04\x05\x06"
    df = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytearray(b"nonsense bytes"))],
        "doc_id: long, payload: binary",
    )
    out = {r.doc_id: r for r in M.resize_images(df, 2, 2).collect()}
    assert out[1].decode_error is None and out[1].out_len == len(
        b"P6\n2 2\n255\n"
    ) + 12
    assert out[2].decode_error is not None and out[2].resized is None


def test_image_ahash_dedup_properties(spark):
    """aHash is an image near-dup signal: byte-identical images hash
    identically, a small content edit flips few bits, a different
    image flips many; corrupt payloads quarantine instead of killing
    the batch."""
    base = "alpha beta gamma delta epsilon zeta eta theta " * 12
    edited = base.replace("gamma", "gamme", 1)
    other = "completely different words entirely unrelated here " * 12
    # ids congruent mod 8 AND mod 5: attach_ppm_payload derives image
    # dims from doc_id, and the identical-content property needs
    # identical geometry
    docs = spark.createDataFrame(
        [(1, base), (41, base), (81, edited), (121, other)], ["doc_id", "text"]
    )
    media = M.attach_ppm_payload(docs)
    out = {r.doc_id: r for r in M.image_ahash(media).collect()}
    assert all(r.decode_error is None for r in out.values())
    assert all(len(r.ahash) == 64 and set(r.ahash) <= {"0", "1"}
               for r in out.values())
    ham = lambda a, b: sum(x != y for x, y in zip(a, b))
    assert out[1].ahash == out[41].ahash           # identical content
    assert ham(out[1].ahash, out[81].ahash) <= 8   # one-word edit: near
    assert ham(out[1].ahash, out[121].ahash) > 8   # different image: far

    bad = spark.createDataFrame([(9, b"NOT A PPM")], "doc_id long, payload binary")
    q = M.image_ahash(bad).first()
    assert q.ahash is None and "P6" in q.decode_error


def test_image_near_dup_pairs_finds_planted_pair(spark):
    """Byte-identical images (same text, same geometry) surface as a
    hamming-0 pair; unrelated images stay out at the <=6 threshold."""
    base = "alpha beta gamma delta epsilon zeta eta theta " * 12
    other = "completely different words entirely unrelated here " * 12
    docs = spark.createDataFrame(
        [(1, base), (41, base), (121, other)], ["doc_id", "text"]
    )
    media = M.attach_ppm_payload(docs)
    pairs = {(r.id_a, r.id_b): r.hamming
             for r in M.image_near_dup_pairs(media).collect()}
    assert pairs.get((1, 41)) == 0
    assert (1, 121) not in pairs and (41, 121) not in pairs


def test_refresh_proposal_states_calls_each_live_id_once(spark, tmp_table_dir, tmp_path):
    """Each live proposal id reaches the RPC exactly once per refresh:
    the merge reads its ``mapInPandas`` batch from the cache after one
    pass, instead of re-running the calls on every pass. The calls are
    counted through a file, since the function runs in Python workers."""
    table = TableCatalog(spark, tmp_table_dir).table("Proposal").create(
        PROPOSAL_SCHEMA, ["id"], num_buckets=4
    )
    from rootstock_collective_state_sync_spark.sinks import merge_upsert

    live = {1: 0, 2: 1, 4: 4}  # id byte -> rawState, all live
    merge_upsert(
        table,
        spark.createDataFrame(
            [(pid(i), f"p{i}", s, "x") for i, s in live.items()]
            + [(pid(3), "p3", 7, "Executed")],
            PROPOSAL_SCHEMA,
        ),
    )
    log = tmp_path / "multicall.log"

    def counting_multicall(ids: list[str]) -> dict[str, int]:
        with open(log, "a") as fh:
            fh.write("".join(f"{h}\n" for h in ids))
        return {h: 5 for h in ids}

    rpc.refresh_proposal_states(table, counting_multicall)
    calls = sorted(log.read_text().split())
    assert calls == sorted("0x" + pid(i).hex() for i in live)
    assert {bytes(r.id)[0]: r.rawState for r in table.read().collect()} == {
        1: 5, 2: 5, 3: 7, 4: 5,
    }
