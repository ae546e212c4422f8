"""WARC (ISO 28500) web-archive ingestion — the Common Crawl shape.

A crawl archive is a sequence of WARC records, each one individually
gzip-compressed and the members concatenated into one `.warc.gz` file
(the member boundaries are what make a non-splittable codec usable:
readers fan out across FILES, then stream member-at-a-time inside
each).  This module implements that layout natively:

- `split_gzip_members` — walk a concatenated-gzip byte stream with
  zlib's decompressobj (wbits=31 per member, `unused_data` carries the
  next member), yielding one decompressed record buffer per member.
- `parse_warc_record` — the WARC/1.0|1.1 version line, the
  CRLF-terminated named headers, the Content-Length-delimited block,
  and the two-CRLF record separator; for `response` records the inner
  HTTP/1.1 status line and headers are parsed and the entity body
  split out.
- `warc_records` — the DataFrame operator: (item_id, payload) blobs ->
  one row per record (record index, WARC type, target URI, HTTP
  status, content length, body length, body hash48), run in the
  zero-shuffle Arrow seam (mapInPandas).  Uncompressed `.warc` bytes
  are detected and handled by the same walk.
- `warc_doc_census` — the per-document rollup behind the driver gate.
- `synth_warc` — deterministic per-row archives (gzip members built
  from the document text + md5-derived fields) so the gate's oracle
  can recompute every column from the ORIGINAL text: agreement proves
  member split, record parse, HTTP split and body integrity end to
  end.

At 100 TB: one task per archive FILE (binaryFile or a blob column from
the upstream manifest), members streamed inside the task, no shuffle
until the per-record rows aggregate.  Parse failures are per-row
(decode_ok=False), never stage failures — a corrupt member in a
million-file crawl must not kill the job.
"""

from __future__ import annotations

import hashlib
import zlib

from pyspark.sql import DataFrame

import pandas as pd  # noqa: F401  (pandas_udf type-hint resolution)

_GZIP_MAGIC = b"\x1f\x8b"

# deterministic HTTP template shared by synth_warc and the gate oracle
_HTTP_REASONS = {
    200: "OK",
    301: "Moved Permanently",
    304: "Not Modified",
    404: "Not Found",
    500: "Internal Server Error",
    503: "Service Unavailable",
}
_HTTP_STATUSES = sorted(_HTTP_REASONS)


def split_gzip_members(payload: bytes) -> list[bytes]:
    """Decompress a concatenation of gzip members into one buffer per
    member.  ValueError on truncated or damaged members (the
    per-record contract: damage is data, not a crash)."""
    out: list[bytes] = []
    rest = bytes(payload)
    while rest:
        d = zlib.decompressobj(wbits=31)
        try:
            buf = d.decompress(rest)
        except zlib.error as exc:
            raise ValueError(f"damaged gzip member: {exc}") from exc
        if not d.eof:
            raise ValueError("truncated gzip member")
        out.append(buf + d.flush())
        rest = d.unused_data
    return out


def parse_warc_record(buf: bytes, offset: int = 0) -> tuple[dict, int]:
    """Parse ONE WARC record starting at `offset` in `buf`.  Returns
    (record dict, next offset past the record separator).  The dict
    carries: warc_type, target_uri, content_length, http_status (None
    for non-response records), body (bytes of the HTTP entity body for
    responses, else the whole block)."""
    end = buf.find(b"\r\n\r\n", offset)
    if end < 0:
        raise ValueError("unterminated WARC header")
    head = buf[offset:end].decode("utf-8", "strict")
    lines = head.split("\r\n")
    if not lines[0].startswith("WARC/1."):
        raise ValueError("missing WARC version line")
    fields: dict[str, str] = {}
    for line in lines[1:]:
        k, _, v = line.partition(":")
        fields[k.strip().lower()] = v.strip()
    try:
        clen = int(fields["content-length"])
    except (KeyError, ValueError) as exc:
        raise ValueError("bad WARC Content-Length") from exc
    block_start = end + 4
    block_end = block_start + clen
    if block_end + 4 > len(buf):
        raise ValueError("truncated WARC block")
    if buf[block_end:block_end + 4] != b"\r\n\r\n":
        raise ValueError("missing WARC record separator")
    block = buf[block_start:block_end]
    rec = {
        "warc_type": fields.get("warc-type", ""),
        "target_uri": fields.get("warc-target-uri"),
        "content_length": clen,
        "http_status": None,
        "body": block,
    }
    if rec["warc_type"] == "response":
        http_end = block.find(b"\r\n\r\n")
        if http_end < 0:
            raise ValueError("unterminated HTTP header in response")
        head_lines = block[:http_end].decode("utf-8", "strict").split("\r\n")
        parts = head_lines[0].split(" ", 2)
        if len(parts) < 2 or not parts[0].startswith("HTTP/1."):
            raise ValueError("bad HTTP status line")
        rec["http_status"] = int(parts[1])
        http_fields: dict[str, str] = {}
        for line in head_lines[1:]:
            k, _, v = line.partition(":")
            http_fields[k.strip().lower()] = v.strip()
        body = block[http_end + 4:]
        # raw crawls store the wire form: dechunk BEFORE decoding the
        # content coding (RFC 9112 ordering)
        if http_fields.get("transfer-encoding", "").lower() == "chunked":
            body = _dechunk(body)
        body = _decode_content(
            body, http_fields.get("content-encoding", "").lower()
        )
        rec["body"] = body
    return rec, block_end + 4


def _dechunk(body: bytes) -> bytes:
    """RFC 9112 §7.1 chunked transfer decoding: hex size line (chunk
    extensions after ';' ignored), chunk bytes, CRLF, terminated by a
    zero-size chunk; trailer fields after the last chunk are ignored."""
    out, pos = bytearray(), 0
    while True:
        eol = body.find(b"\r\n", pos)
        if eol < 0:
            raise ValueError("chunked body missing size line")
        size_tok = body[pos:eol].split(b";", 1)[0].strip()
        try:
            size = int(size_tok, 16)
        except ValueError as exc:
            raise ValueError("bad chunk size line") from exc
        pos = eol + 2
        if size == 0:
            return bytes(out)
        if pos + size + 2 > len(body):
            raise ValueError("truncated chunk")
        out += body[pos:pos + size]
        if body[pos + size:pos + size + 2] != b"\r\n":
            raise ValueError("chunk missing trailing CRLF")
        pos += size + 2


def _decode_content(body: bytes, coding: str) -> bytes:
    """Content-Encoding decode: gzip / deflate (both zlib-wrapped and
    the bare-DEFLATE form some servers send) / zstd / br (both through
    the system libraries) / identity.  Unknown codings raise
    ValueError — per-row damage, the caller's contract."""
    if coding in ("", "identity"):
        return body
    if coding == "gzip":
        try:
            return zlib.decompress(body, wbits=31)
        except zlib.error as exc:
            raise ValueError(f"bad gzip content: {exc}") from exc
    if coding == "deflate":
        try:
            return zlib.decompress(body)  # zlib-wrapped (the RFC form)
        except zlib.error:
            try:
                return zlib.decompress(body, wbits=-15)  # bare DEFLATE
            except zlib.error as exc:
                raise ValueError(f"bad deflate content: {exc}") from exc
    if coding == "zstd":
        from ..operators import compress as _compress

        n_data, _, total, _, _ = _compress._walk_frames(body)
        if n_data != 1 or total < 0:
            raise ValueError("zstd content without declared size")
        return _compress.zstd_decompress(body, total)
    if coding == "br":
        from ..operators import compress as _compress

        try:
            return _compress.brotli_decompress(body)
        except NotImplementedError as exc:
            # libbrotlidec absent: per-row damage, same contract as
            # every other undecodable coding
            raise ValueError(str(exc)) from exc
    raise ValueError(f"unsupported content-encoding: {coding}")


def parse_warc(payload: bytes) -> list[dict]:
    """All records of one archive blob: gzip-member layout when the
    payload starts with the gzip magic, raw concatenated WARC
    otherwise."""
    b = bytes(payload)
    records: list[dict] = []
    if b[:2] == _GZIP_MAGIC:
        for member in split_gzip_members(b):
            pos = 0
            while pos < len(member):
                rec, pos = parse_warc_record(member, pos)
                records.append(rec)
    else:
        pos = 0
        while pos < len(b):
            rec, pos = parse_warc_record(b, pos)
            records.append(rec)
    if not records:
        raise ValueError("empty WARC payload")
    return records


WARC_RECORDS_SCHEMA = (
    "item_id long, rec_idx int, warc_type string, target_uri string, "
    "http_status int, content_length long, body_len long, body_hash long"
)


def warc_records(blobs: DataFrame) -> DataFrame:
    """(item_id, payload) -> one row per WARC record.  Parse failures
    surface as a single (rec_idx=-1, warc_type='damaged') row per
    blob, never a stage failure.  Zero shuffle: one Arrow batch in,
    record rows out."""

    def run(batches):
        for pdf in batches:
            ids, idxs, types, uris = [], [], [], []
            stats, clens, blens, bhash = [], [], [], []
            for item_id, payload in zip(pdf["item_id"], pdf["payload"]):
                i = int(item_id)
                try:
                    recs = parse_warc(bytes(payload))
                except ValueError:
                    ids.append(i); idxs.append(-1)
                    types.append("damaged"); uris.append(None)
                    stats.append(None); clens.append(None)
                    blens.append(None); bhash.append(None)
                    continue
                for k, rec in enumerate(recs):
                    ids.append(i); idxs.append(k)
                    types.append(rec["warc_type"])
                    uris.append(rec["target_uri"])
                    stats.append(rec["http_status"])
                    clens.append(rec["content_length"])
                    blens.append(len(rec["body"]))
                    bhash.append(
                        int(
                            hashlib.md5(rec["body"]).hexdigest()[:12], 16
                        )
                    )
            yield pd.DataFrame(
                {
                    "item_id": pd.Series(ids, dtype="int64"),
                    "rec_idx": pd.Series(idxs, dtype="int32"),
                    "warc_type": pd.Series(types, dtype=object),
                    "target_uri": pd.Series(uris, dtype=object),
                    "http_status": pd.Series(stats, dtype="Int32"),
                    "content_length": pd.Series(clens, dtype="Int64"),
                    "body_len": pd.Series(blens, dtype="Int64"),
                    "body_hash": pd.Series(bhash, dtype="Int64"),
                }
            )

    return blobs.mapInPandas(run, WARC_RECORDS_SCHEMA)


def warc_doc_census(blobs: DataFrame) -> DataFrame:
    """Per-archive rollup of warc_records: record counts by type, the
    response's HTTP status and body integrity columns — the driver
    gate's surface.  One map-side-combined aggregation; the record
    explode never leaves the scan stage."""
    from pyspark.sql import functions as F

    recs = warc_records(blobs)
    return recs.groupBy("item_id").agg(
        F.max(F.col("rec_idx") >= 0).alias("parse_ok"),
        F.sum(F.when(F.col("rec_idx") >= 0, 1)).alias("n_records"),
        F.sum(
            F.when(F.col("warc_type") == "response", 1)
        ).alias("n_responses"),
        F.max(
            F.when(F.col("warc_type") == "response", F.col("http_status"))
        ).alias("http_status"),
        F.max(
            F.when(
                F.col("warc_type") == "response", F.col("content_length")
            )
        ).alias("content_length"),
        F.max(
            F.when(F.col("warc_type") == "response", F.col("body_len"))
        ).alias("body_len"),
        F.max(
            F.when(F.col("warc_type") == "response", F.col("body_hash"))
        ).alias("body_hash"),
    )


def _synth_records(i: int, text: str) -> list[bytes]:
    """The deterministic records of doc i (shared contract with the
    gate oracle — every derived value must stay SQL-recomputable)."""
    hb = hashlib.md5(f"{i}_w_s".encode()).digest()
    status = _HTTP_STATUSES[hb[0] % len(_HTTP_STATUSES)]
    uri = f"https://crawl-{i % 50}.example.org/doc/{i}"
    body = str(text).encode("utf-8")
    http = (
        f"HTTP/1.1 {status} {_HTTP_REASONS[status]}\r\n"
        "Content-Type: text/plain\r\n\r\n"
    ).encode() + body
    records = []
    if i % 4 == 0:
        req = (
            f"GET /doc/{i} HTTP/1.1\r\nHost: crawl-{i % 50}.example.org"
            "\r\n\r\n"
        ).encode()
        records.append(_record("request", uri, req))
    records.append(_record("response", uri, http))
    return records


def _record(warc_type: str, uri: str, block: bytes) -> bytes:
    head = (
        "WARC/1.0\r\n"
        f"WARC-Type: {warc_type}\r\n"
        f"WARC-Target-URI: {uri}\r\n"
        f"Content-Length: {len(block)}\r\n\r\n"
    ).encode()
    return head + block + b"\r\n\r\n"


def synth_warc(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    plain_mod: int = 10,
    corrupt_mod: int = 17,
) -> DataFrame:
    """Per-row deterministic WARC archives for the driver gate: each
    document becomes a response record (status picked by byte 0 of
    md5(f"{id}_w_s") over the sorted 6-status table, body = the utf-8
    text), every 4th doc also a preceding request record; records are
    individually gzip-compressed and concatenated (the Common Crawl
    member layout) except every `plain_mod`-th doc, which ships
    uncompressed (same records, the raw-WARC branch); every
    `corrupt_mod`-th doc has its final 6 bytes cut — a truncated last
    member (damage branch, parse_ok=False)."""
    from .corpus import DOCUMENTS_SCHEMA  # noqa: F401  (schema contract)
    from ..operators.multimodal import synth_payloads

    def make(i: int, text) -> bytes:
        records = _synth_records(i, text)
        if plain_mod and i % plain_mod == 0:
            out = b"".join(records)
        else:
            out = b"".join(
                zlib.compress(r, 6, wbits=31) for r in records
            )
        if corrupt_mod and i % corrupt_mod == 0:
            out = out[:-6]
        return out

    return synth_payloads(df.select(id_col, text_col), make)


def read_warc(
    spark,
    path: str,
    records: bool = True,
) -> DataFrame:
    """Read `.warc` / `.warc.gz` archive FILES into records: one input
    row per file via the binaryFile source (each file is one task —
    the Common Crawl unit of parallelism, where a 100 TB crawl is
    ~90k files of ~1 GB and the member-at-a-time gzip walk keeps peak
    memory at one record), then the same zero-shuffle Arrow parse the
    blob-column path uses.  item_id is a dense hash of the file path
    (hash48 of the path string — stable across re-lists, and carried
    alongside the path itself for joins back to the manifest).

    With records=False returns the raw (path, item_id, payload) frame
    for callers that bring their own parser."""
    from pyspark.sql import functions as F

    from ..operators.sketch import hash48

    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc*")
        .load(path)
        .select(
            F.col("path"),
            hash48(F.col("path")).alias("item_id"),
            F.col("content").alias("payload"),
        )
    )
    if not records:
        return raw
    recs = warc_records(raw.select("item_id", "payload"))
    # join the path dimension back broadcast-style: the manifest side
    # is |files|-sized, never data-sized
    paths = raw.select("item_id", "path")
    return recs.join(F.broadcast(paths), "item_id", "left")


WARC_BODIES_SCHEMA = (
    "item_id long, rec_idx int, warc_type string, target_uri string, "
    "http_status int, body binary"
)


def warc_bodies(blobs: DataFrame) -> DataFrame:
    """warc_records' wide sibling: carries the record BODY bytes out
    of the seam instead of their hash — the extraction form feeding
    charset decode + html_strip (see examples/crawl_ingest.py).  Same
    per-row damage contract (one rec_idx=-1 row, body NULL).  Zero
    shuffle; keep projections downstream narrow, the body column is
    the data."""

    def run(batches):
        for pdf in batches:
            ids, idxs, types, uris, stats, bodies = [], [], [], [], [], []
            for item_id, payload in zip(pdf["item_id"], pdf["payload"]):
                i = int(item_id)
                try:
                    recs = parse_warc(bytes(payload))
                except ValueError:
                    ids.append(i); idxs.append(-1)
                    types.append("damaged"); uris.append(None)
                    stats.append(None); bodies.append(None)
                    continue
                for k, rec in enumerate(recs):
                    ids.append(i); idxs.append(k)
                    types.append(rec["warc_type"])
                    uris.append(rec["target_uri"])
                    stats.append(rec["http_status"])
                    bodies.append(rec["body"])
            yield pd.DataFrame(
                {
                    "item_id": pd.Series(ids, dtype="int64"),
                    "rec_idx": pd.Series(idxs, dtype="int32"),
                    "warc_type": pd.Series(types, dtype=object),
                    "target_uri": pd.Series(uris, dtype=object),
                    "http_status": pd.Series(stats, dtype="Int32"),
                    "body": pd.Series(bodies, dtype=object),
                }
            )

    return blobs.mapInPandas(run, WARC_BODIES_SCHEMA)
