"""ZIP (PKWARE APPNOTE) archive reader + writer — the OTHER container
public datasets ship in (Kaggle drops, government open data, most
"download the dataset" links). Spec-derived like the tar/WARC walkers:
local file headers (PK\\x03\\x04), the central directory (PK\\x01\\x02)
as the source of truth, and the end-of-central-directory record
(PK\\x05\\x06) located by the backward scan the format requires (a
trailing comment may follow it). STORE and DEFLATE entries both
supported — DEFLATE decompresses through the from-scratch RFC 1951
inflate and COMPRESSES through the from-scratch greedy-LZ77
fixed-Huffman deflate (`functions/inflate.py`), so the driver-checked
query hash-verifies both directions of the codec inside a second
container format. CRC-32 and size fields are verified on read; framing
defects raise ``ValueError`` naming the defect (honest-boundary
policy). Interop with stdlib ``zipfile`` is pinned in tests in BOTH
directions.

Reference analog: none; public spec: PKWARE APPNOTE.TXT (the ZIP
format), RFC 1951. The WebDataset sample-grouping convention from
``sources/tarfiles.py`` applies unchanged — a zip of ``{key}.{ext}``
members is the same training-shard shape.
"""

from __future__ import annotations

import struct
import sys

from pyspark import cloudpickle

from tinymapreduce_spark.functions.inflate import crc32, deflate_fixed, inflate
from tinymapreduce_spark.pyworker import row_stage

cloudpickle.register_pickle_by_value(sys.modules[__name__])

_LOCAL_SIG = b"PK\x03\x04"
_CENTRAL_SIG = b"PK\x01\x02"
_EOCD_SIG = b"PK\x05\x06"


def write_zip(members: list[tuple[str, bytes]]) -> bytes:
    """``members`` = [(name, payload)]; even-indexed entries STORE,
    odd-indexed entries DEFLATE (through the from-scratch compressor)
    — both code paths live in every archive. Timestamps pinned to 0
    (determinism convention); names are UTF-8."""
    out = bytearray()
    central = bytearray()
    for i, (name, payload) in enumerate(members):
        raw = name.encode()
        method = 8 if i % 2 else 0
        data = deflate_fixed(payload) if method else payload
        crc = crc32(payload)
        offset = len(out)
        common = struct.pack(
            "<5H3I2H",
            20,  # version needed
            0,  # flags
            method,
            0, 0,  # mod time/date pinned
            crc, len(data), len(payload),
            len(raw), 0,  # name len, extra len
        )
        out += _LOCAL_SIG + common + raw + data
        central += (
            _CENTRAL_SIG
            + struct.pack("<H", 20)  # version made by
            + common
            # comment len, disk, internal attrs, external attrs, offset
            + struct.pack("<3H2I", 0, 0, 0, 0, offset)
            + raw
        )
    cd_off = len(out)
    out += central
    out += _EOCD_SIG + struct.pack(
        "<4H2IH", 0, 0, len(members), len(members), len(central), cd_off, 0
    )
    return bytes(out)


def parse_zip(payload: bytes) -> list[tuple[str, bytes]]:
    """Walk a ZIP → [(name, payload)] in central-directory order. The
    EOCD is found by scanning backward (trailing comments are legal);
    every entry's local header is cross-checked against its central
    entry, DEFLATE entries inflate through the from-scratch decoder,
    and CRC-32 + both size fields are verified."""
    tail = payload[-(0xFFFF + 22):] if len(payload) > 0xFFFF + 22 else payload
    at = tail.rfind(_EOCD_SIG)
    if at < 0:
        raise ValueError("no end-of-central-directory record")
    eocd = tail[at:]
    if len(eocd) < 22:
        raise ValueError("EOCD truncated")
    (_, _, n_here, n_total, cd_size, cd_off, _) = struct.unpack(
        "<4H2IH", eocd[4:22]
    )
    if n_here != n_total:
        raise ValueError("multi-disk archives unsupported")
    members: list[tuple[str, bytes]] = []
    pos = cd_off
    for _ in range(n_total):
        if payload[pos : pos + 4] != _CENTRAL_SIG:
            raise ValueError(f"bad central-directory signature at {pos}")
        (
            _vmade, _vneed, _flags, method, _t, _d, crc, csize, usize,
            nlen, xlen, clen, _disk, _iattr, _eattr, offset,
        ) = struct.unpack("<6H3I3H2H2I", payload[pos + 4 : pos + 46])
        name = payload[pos + 46 : pos + 46 + nlen].decode()
        pos += 46 + nlen + xlen + clen
        if payload[offset : offset + 4] != _LOCAL_SIG:
            raise ValueError(f"entry {name!r}: bad local-header signature")
        lnlen, lxlen = struct.unpack("<2H", payload[offset + 26 : offset + 30])
        data_at = offset + 30 + lnlen + lxlen
        data = payload[data_at : data_at + csize]
        if len(data) != csize:
            raise ValueError(f"entry {name!r}: compressed data truncated")
        if method == 0:
            body = data
        elif method == 8:
            body, used = inflate(data)
            if used != len(data):
                raise ValueError(f"entry {name!r}: deflate stream overlong")
        else:
            raise ValueError(f"entry {name!r}: method {method} unsupported")
        if len(body) != usize:
            raise ValueError(f"entry {name!r}: size mismatch")
        if crc32(body) != crc:
            raise ValueError(f"entry {name!r}: CRC-32 mismatch")
        members.append((name, body))
    return members


# --- oracle-backed ingest query: same shard shape as the tar rung ----------
def zip_shard_ingest(spark, sf_dir: str):
    """WebDataset-shaped ZIP ingest over BinaryType: the SAME per-doc
    sample members as ``tar_shard_ingest`` packed as a ZIP (even
    entries STORE, odd entries DEFLATE through the from-scratch
    compressor), walked back via EOCD -> central directory -> local
    headers, sample-grouped, and reduced to exact stats plus the
    deflated-entry count. The oracle replays the member formulas; an
    EOCD scan, central/local cross-check, method-dispatch, inflate or
    CRC bug flips the hash. Row-local Arrow kernels — the codec-tier
    scale shape."""
    from tinymapreduce_spark.sources.loaders import documents_for_cpu
    from tinymapreduce_spark.sources.tarfiles import _doc_members, group_samples

    docs = documents_for_cpu(spark, sf_dir).select("doc_id")

    def roundtrip(d):
        members = parse_zip(write_zip(_doc_members(d)))
        samples = group_samples(members)
        yield (
            d, len(samples), len(members), len(members) // 2,
            sum(len(s[1]["txt"]) for s in samples),
            sum(int(s[1]["cls"]) for s in samples),
            sum(sum(s[1]["bin"]) for s in samples),
        )

    return row_stage(
        docs,
        "doc_id long, n_samples long, n_members long, n_deflated long,"
        " txt_bytes long, cls_sum long, bin_byte_sum long",
        roundtrip,
    )


ZIP_INGEST_SQL = """
WITH samples AS (
  SELECT doc_id, s.s,
         LENGTH(repeat('sample text ' || doc_id || ' ' || s.s || ' ',
                       1 + (doc_id + s.s) % 4)) AS tlen,
         (doc_id * 7 + s.s) % 10 AS cls,
         (SELECT SUM((doc_id * 3 + s.s * 5 + i.i * 7) % 256)
          FROM (SELECT UNNEST(range(0, 16 + (doc_id + s.s) % 17)) AS i) i
         ) AS bin_sum
  FROM documents,
       LATERAL (SELECT UNNEST(range(0, 1 + doc_id % 3)) AS s) s
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_samples,
       CAST(3 * COUNT(*) AS BIGINT) AS n_members,
       CAST(3 * COUNT(*) // 2 AS BIGINT) AS n_deflated,
       CAST(SUM(tlen) AS BIGINT) AS txt_bytes,
       CAST(SUM(cls) AS BIGINT) AS cls_sum,
       CAST(SUM(bin_sum) AS BIGINT) AS bin_byte_sum
FROM samples
GROUP BY doc_id
"""
