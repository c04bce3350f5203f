"""WARC (ISO 28500 / WARC 1.0) reader + writer — the web-crawl
container format every pretraining ingest pipeline starts from
(Common Crawl ships .warc.gz). Pure stdlib: the record grammar is
text headers + Content-Length framing; the gzip layer is zlib.

``write_warc`` emits spec-shaped records (version line, header block,
CRLF discipline, Content-Length payload framing, the two-CRLF record
terminator) either plain or as CONCATENATED PER-RECORD GZIP MEMBERS —
the standard .warc.gz layout that lets a reader seek to a record
without inflating the whole file. ``parse_warc`` walks both: the gzip
path iterates members via ``zlib.decompressobj(wbits=47)`` and each
member's ``unused_data`` (the classic multi-member trap — ``gzip
.decompress`` would silently concatenate payloads), the plain path
walks records by declared length. Malformed version lines, missing
Content-Length, short payloads and broken record terminators raise
``ValueError`` naming the defect.

decode(encode(records)) is exact regardless of zlib version (only
INFLATE runs on fixed bytes), so the ``warc_ingest_stats`` oracle
replays the record-payload formulas directly — same posture as the
PNG/GIF rungs.

Reference analog: none (TinyMapreduce reads plain pg-*.txt); this is
north-star ingest territory from the brief.
"""

from __future__ import annotations

import sys
import zlib

from pyspark import cloudpickle

from tinymapreduce_spark.pyworker import prime_worker

cloudpickle.register_pickle_by_value(sys.modules[__name__])

CRLF = b"\r\n"
WARC_DATE = "2024-01-01T00:00:00Z"  # fixed: determinism convention


def _record_bytes(warc_type: str, payload: bytes, headers: dict[str, str]) -> bytes:
    out = bytearray(b"WARC/1.0" + CRLF)
    hdrs = {"WARC-Type": warc_type, **headers, "Content-Length": str(len(payload))}
    for k, v in hdrs.items():
        out += f"{k}: {v}".encode() + CRLF
    out += CRLF + payload + CRLF + CRLF
    return bytes(out)


def write_warc(
    records: list[tuple[str, bytes, dict[str, str]]],
    gzip_members: bool = False,
) -> bytes:
    """``records`` = [(warc_type, payload, extra_headers)]. With
    ``gzip_members`` each record becomes its own gzip member (the
    .warc.gz convention); mtime is pinned to 0 so output bytes are
    reproducible within a zlib version (decode never depends on it)."""
    out = bytearray()
    for warc_type, payload, headers in records:
        rec = _record_bytes(warc_type, payload, headers)
        if gzip_members:
            co = zlib.compressobj(6, zlib.DEFLATED, 31)
            out += co.compress(rec) + co.flush()
        else:
            out += rec
    return bytes(out)


def _gunzip_members(payload: bytes) -> bytes:
    """Inflate ALL concatenated gzip members (wbits=47 auto-detects the
    gzip wrapper; each member ends with its own trailer, remaining
    bytes surface as unused_data)."""
    out = bytearray()
    rest = payload
    while rest:
        d = zlib.decompressobj(47)
        out += d.decompress(rest)
        out += d.flush()
        if not d.eof:
            raise ValueError("truncated gzip member")
        rest = d.unused_data
    return bytes(out)


def parse_warc(payload: bytes):
    """Parse a WARC (plain or .warc.gz) → list of
    ``(warc_type, headers_dict, payload_bytes)``."""
    if payload[:2] == b"\x1f\x8b":
        payload = _gunzip_members(payload)
    records = []
    pos = 0
    while pos < len(payload):
        nl = payload.index(CRLF, pos)
        version = payload[pos:nl]
        if version != b"WARC/1.0":
            raise ValueError(f"bad WARC version line {version!r}")
        pos = nl + 2
        headers: dict[str, str] = {}
        while True:
            nl = payload.index(CRLF, pos)
            line = payload[pos:nl]
            pos = nl + 2
            if not line:
                break
            k, _, v = line.decode().partition(":")
            if not _:
                raise ValueError(f"malformed header line {line!r}")
            headers[k.strip()] = v.strip()
        if "Content-Length" not in headers:
            raise ValueError("record without Content-Length")
        n = int(headers["Content-Length"])
        body = payload[pos : pos + n]
        if len(body) != n:
            raise ValueError("payload shorter than Content-Length")
        pos += n
        if payload[pos : pos + 4] != CRLF + CRLF:
            raise ValueError("missing record terminator")
        pos += 4
        records.append((headers.get("WARC-Type", ""), headers, body))
    return records


# --- oracle-backed ingest query -------------------------------------------
# Per doc: one warcinfo + (1 + d % 4) response records; response r's
# payload = "payload {d} {r} " * (1 + (d + r) % 5); every odd doc is
# .warc.gz (per-record gzip members). The oracle replays the payload
# length formula; n_records / framing bugs flip counts, gzip-member
# bugs flip everything on odd docs.
WARCINFO_PAYLOAD = b"software: tinymapreduce-spark\r\n"


def _doc_records(d: int):
    recs = [
        (
            "warcinfo",
            WARCINFO_PAYLOAD,
            {"WARC-Record-ID": f"<urn:uuid:{d:08d}-0>", "WARC-Date": WARC_DATE},
        )
    ]
    for r in range(1 + d % 4):
        body = (f"payload {d} {r} " * (1 + (d + r) % 5)).encode()
        recs.append(
            (
                "response",
                body,
                {
                    "WARC-Record-ID": f"<urn:uuid:{d:08d}-{r + 1}>",
                    "WARC-Date": WARC_DATE,
                    "WARC-Target-URI": f"http://site{d % 50}.example/p{r}",
                },
            )
        )
    return recs


def warc_ingest_stats(spark, sf_dir: str):
    """REAL WARC ingest over BinaryType: synthesize one WARC per
    document (warcinfo + responses; odd docs as concatenated-gzip
    .warc.gz), parse it back through the full record walker and emit
    exact per-doc stats. The oracle re-derives them from the payload
    formulas — a framing, header, Content-Length, terminator or
    gzip-member bug flips the hash.

    Scale shape: identical to the codec rungs — (doc_id, payload)
    through two Arrow-batched kernels; at 100 TB this is the Common
    Crawl ingest front door (each .warc.gz shard parses row-locally)."""
    import pandas as pd

    from tinymapreduce_spark.sources.loaders import documents_for_cpu

    docs = documents_for_cpu(spark, sf_dir).select("doc_id")

    def encode(batches):
        prime_worker()
        for pdf in batches:
            payloads = [
                write_warc(_doc_records(int(d)), gzip_members=bool(int(d) % 2))
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    def parse(batches):
        prime_worker()
        for pdf in batches:
            rows: dict[str, list] = {
                "doc_id": [], "gzipped": [], "n_records": [],
                "n_responses": [], "response_bytes": [],
                "max_response_bytes": [],
            }
            for d, p in zip(pdf["doc_id"], pdf["payload"]):
                recs = parse_warc(bytes(p))
                resp = [body for t, _, body in recs if t == "response"]
                rows["doc_id"].append(d)
                rows["gzipped"].append(int(d) % 2)
                rows["n_records"].append(len(recs))
                rows["n_responses"].append(len(resp))
                rows["response_bytes"].append(sum(len(b) for b in resp))
                rows["max_response_bytes"].append(max(len(b) for b in resp))
            yield pd.DataFrame(rows)

    blobs = docs.mapInPandas(encode, schema="doc_id long, payload binary")
    return blobs.mapInPandas(
        parse,
        schema=(
            "doc_id long, gzipped long, n_records long, n_responses long,"
            " response_bytes long, max_response_bytes long"
        ),
    )


WARC_INGEST_SQL = """
WITH recs AS (
  SELECT doc_id, r.r,
         LENGTH(repeat('payload ' || doc_id || ' ' || r.r || ' ',
                       1 + (doc_id + r.r) % 5)) AS plen
  FROM documents,
       LATERAL (SELECT UNNEST(range(0, 1 + doc_id % 4)) AS r) r
)
SELECT doc_id,
       CAST(doc_id % 2 AS BIGINT) AS gzipped,
       CAST(COUNT(*) + 1 AS BIGINT) AS n_records,
       CAST(COUNT(*) AS BIGINT) AS n_responses,
       CAST(SUM(plen) AS BIGINT) AS response_bytes,
       CAST(MAX(plen) AS BIGINT) AS max_response_bytes
FROM recs
GROUP BY doc_id
"""


# --- file-based crawl segments + streaming twin ---------------------------
WARC_DOC_CAP = 500  # bounded segment-file count for the file-based path
WARC_DOCS_PER_FILE = 25  # one .warc.gz "crawl segment" per 25 docs


def _ensure_warc_files(spark, sf_dir: str) -> str:
    """Materialize a directory of REAL .warc.gz crawl segments (25 docs'
    records per file, per-record gzip members), written DISTRIBUTED via
    foreachPartition with temp+rename commits — the Common Crawl drop
    shape. Idempotent per (session, corpus identity): keyed by the
    documents table's (size, mtime) fingerprint, the same convention as
    the .bmp corpus (multimodal._ensure_bmp_files)."""
    import os

    from pyspark.sql import functions as F

    from tinymapreduce_spark.sources.loaders import load_table
    from tinymapreduce_spark.sources.manifest_sink import _src_fp
    from tinymapreduce_spark.sources.textfiles import SCRATCH

    tag = os.path.basename(os.path.normpath(sf_dir))
    fp = _src_fp(sf_dir, "documents")
    out_dir = os.path.join(SCRATCH, f"warc_files_{tag}_{fp}")
    marker = f"spark.tinymr.warc_files_{tag.replace('.', '_')}_{fp}"
    if not spark.conf.get(marker, None):
        os.makedirs(out_dir, exist_ok=True)
        docs = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id")
            .where(F.col("doc_id") < WARC_DOC_CAP)
            .withColumn("seg", (F.col("doc_id") / WARC_DOCS_PER_FILE).cast("int"))
            .repartition("seg")
        )

        def write_part(rows) -> None:
            prime_worker()
            import os as _os
            from collections import defaultdict

            segs = defaultdict(list)
            for row in rows:
                segs[int(row.seg)].append(int(row.doc_id))
            for seg, ds in segs.items():
                recs = []
                for d in sorted(ds):
                    recs.extend(_doc_records(d))
                path = _os.path.join(out_dir, f"seg_{seg:04d}.warc.gz")
                tmp = path + ".tmp"
                with open(tmp, "wb") as f:
                    f.write(write_warc(recs, gzip_members=True))
                _os.replace(tmp, path)

        docs.foreachPartition(write_part)
        spark.conf.set(marker, "1")
    return out_dir


def stream_warc_ingest(spark, sf_dir: str):
    """Incremental crawl ingest — the shape a Common Crawl pipeline
    schedules: a streaming ``binaryFile`` read over the .warc.gz
    segment directory (new segments picked up by the checkpointed file
    index), the FULL record walker running inside the stream (gzip
    members + framing), per-response rows appended to a parquet sink
    under Trigger.AvailableNow. Re-running against the same checkpoint
    ingests nothing, so the aggregate over the sink equals the batch
    parse no matter how many times the query ran. The oracle aggregates
    the same payload formulas over doc_id < WARC_DOC_CAP."""
    import os

    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from tinymapreduce_spark.sources.textfiles import SCRATCH

    src = _ensure_warc_files(spark, sf_dir)
    base = os.path.join(SCRATCH, f"stream_{os.path.basename(src)}")
    ckpt, sink = os.path.join(base, "ckpt"), os.path.join(base, "sink")

    schema = StructType(
        [
            StructField("path", StringType()),
            StructField("modificationTime", TimestampType()),
            StructField("length", LongType()),
            StructField("content", BinaryType()),
        ]
    )
    blobs = (
        spark.readStream.format("binaryFile")
        .schema(schema)
        .option("pathGlobFilter", "*.warc.gz")
        .load(src)
        .select("content")
    )

    def parse(batches):
        prime_worker()
        for pdf in batches:
            rows: dict[str, list] = {"doc_id": [], "plen": []}
            for p in pdf["content"]:
                for wtype, headers, body in parse_warc(bytes(p)):
                    if wtype != "response":
                        continue
                    # <urn:uuid:{doc:08d}-{r}> — doc embedded by the writer
                    rid = headers["WARC-Record-ID"]
                    rows["doc_id"].append(int(rid[10:18]))
                    rows["plen"].append(len(body))
            yield pd.DataFrame(rows)

    q = (
        blobs.mapInPandas(parse, schema="doc_id long, plen long")
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("availableNow drain did not self-terminate")

    has_parts = os.path.isdir(sink) and any(
        f.endswith(".parquet") for f in os.listdir(sink)
    )
    back = (
        spark.read.schema("doc_id long, plen long").parquet(sink)
        if has_parts
        else spark.createDataFrame([], "doc_id long, plen long")
    )
    return back.agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_responses"),
        F.sum("plen").cast("long").alias("response_bytes"),
    )


STREAM_WARC_SQL = f"""
WITH recs AS (
  SELECT doc_id, r.r,
         LENGTH(repeat('payload ' || doc_id || ' ' || r.r || ' ',
                       1 + (doc_id + r.r) % 5)) AS plen
  FROM documents,
       LATERAL (SELECT UNNEST(range(0, 1 + doc_id % 4)) AS r) r
  WHERE doc_id < {WARC_DOC_CAP}
)
SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_responses,
       CAST(SUM(plen) AS BIGINT) AS response_bytes
FROM recs
"""
