"""WARC/WET web-archive record extraction — the Common Crawl ingestion
shape (SURVEY §2.1 S3–S8 treats acquisition as out-of-engine, but the
LANDED bytes of a crawl corpus arrive as WARC: per-record gzip members
concatenated into one file, each member a "WARC/1.0" header block +
Content-Length-framed body). A 100 TB text pipeline's first real
operator is exactly this: opaque archive bytes -> framed records, one
output row per record, without ever shipping payloads off the executor.

Pure stdlib (zlib with the gzip wrapper, wbits=31) — the same
no-codec-library discipline as operators/multimodal.py, with the same
null honesty: malformed framing, truncated members, or a bad
Content-Length void the ITEM (None, never a crash), because a partially
parsed archive reported as complete is corpus corruption.

ISO 28500 (WARC 1.0) framing implemented here: records are
  WARC/1.0\\r\\n  <name>: <value>\\r\\n ...  \\r\\n  <body bytes = Content-Length>  \\r\\n\\r\\n
and the standard Common Crawl layout gzips EACH record as its own
member (so HDFS-style splitters can resync on member boundaries); plain
uncompressed concatenation is also in profile.
"""

from __future__ import annotations

import zlib

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .multimodal import _map_payloads

#: cap on total decompressed bytes per item (decode-bomb guard — a
#: 10 KB gzip member can inflate to GBs; same posture as _MAX_DECODE_PIXELS)
_MAX_ARCHIVE_BYTES = 1 << 26  # 64 MiB


def _split_gzip_members(b: bytes) -> list[bytes] | None:
    """Inflate a concatenation of gzip members into one bytes blob per
    member, bounded by _MAX_ARCHIVE_BYTES total; None on corruption."""
    out = []
    total = 0
    pos = 0
    while pos < len(b):
        d = zlib.decompressobj(31)
        try:
            chunk = d.decompress(b[pos:], _MAX_ARCHIVE_BYTES - total + 1)
        except zlib.error:
            return None
        if not d.eof:  # truncated member or bomb-capped mid-member
            return None
        total += len(chunk)
        if total > _MAX_ARCHIVE_BYTES:
            return None
        out.append(chunk)
        pos = len(b) - len(d.unused_data)
    return out


def parse_warc_records(b: bytes | None):
    """Parse a WARC payload (gzip-member-per-record or plain) into a list
    of (headers: dict[str, str], body: bytes), or None outside the
    profile. Header names are lower-cased; the version line must read
    WARC/1.0 or WARC/1.1; Content-Length is mandatory (ISO 28500 §4);
    each record must be terminated by CRLF CRLF."""
    if not b:
        return None
    if b[:2] == b"\x1f\x8b":
        members = _split_gzip_members(b)
        if members is None:
            return None
        raw = b"".join(members)
    elif b[:5] in (b"WARC/",):
        if len(b) > _MAX_ARCHIVE_BYTES:
            return None
        raw = b
    else:
        return None
    records = []
    i, n = 0, len(raw)
    while i < n:
        head_end = raw.find(b"\r\n\r\n", i)
        if head_end < 0:
            return None
        lines = raw[i:head_end].split(b"\r\n")
        if lines[0] not in (b"WARC/1.0", b"WARC/1.1"):
            return None
        headers: dict[str, str] = {}
        last_key: str | None = None
        for ln in lines[1:]:
            if ln[:1] in (b" ", b"\t"):
                # ISO 28500 §4: a header value may span lines; each
                # continuation line begins with SP/HT and folds onto the
                # previous value (joined with a single space). A fold with
                # no preceding header line is malformed.
                if last_key is None:
                    return None
                try:
                    cont = ln.decode("utf-8", "strict").strip()
                except UnicodeDecodeError:
                    return None
                headers[last_key] = (headers[last_key] + " " + cont).strip()
                continue
            sep = ln.find(b":")
            if sep <= 0:
                return None
            try:
                key = ln[:sep].decode("ascii").strip().lower()
                headers[key] = ln[sep + 1 :].decode("utf-8", "strict").strip()
            except UnicodeDecodeError:
                return None
            last_key = key
        try:
            length = int(headers["content-length"])
        except (KeyError, ValueError):
            return None
        body_at = head_end + 4
        if length < 0 or body_at + length + 4 > n:
            return None
        if raw[body_at + length : body_at + length + 4] != b"\r\n\r\n":
            return None
        records.append((headers, raw[body_at : body_at + length]))
        i = body_at + length + 4
    return records if records else None


def encode_warc(records, gzip_members: bool = True) -> bytes:
    """Write (headers: dict, body: bytes) records as a spec-valid WARC —
    one gzip member per record (the Common Crawl layout) or plain
    concatenation. Content-Length is derived, never trusted from the
    caller. Write-time fixture synthesizer; real ingests land crawler
    output instead."""
    out = bytearray()
    for headers, body in records:
        rec = bytearray(b"WARC/1.0\r\n")
        for k, v in headers.items():
            if k.lower() == "content-length":
                continue
            rec += f"{k}: {v}\r\n".encode()
        rec += f"Content-Length: {len(body)}\r\n\r\n".encode()
        rec += body + b"\r\n\r\n"
        if gzip_members:
            co = zlib.compressobj(6, zlib.DEFLATED, 31)
            out += co.compress(bytes(rec)) + co.flush()
        else:
            out += rec
    return bytes(out)


WARC_STATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("n_records", IntegerType(), True),
        StructField("n_conversion", IntegerType(), True),
        StructField("total_body_bytes", LongType(), True),
        StructField("max_body_bytes", LongType(), True),
        StructField("records_md5", StringType(), True),
        StructField("text_md5", StringType(), True),
    ]
)


def extract_warc_stats(df: DataFrame) -> DataFrame:
    """Distributed WARC record extraction stats: per archive payload, the
    record count, conversion-record count (WET text records), body byte
    totals, a canonical "type:length" CSV md5 (framing under the hash),
    and the md5 of the concatenated conversion bodies (content under the
    hash). Undecodable archives yield one NULL-stats row — voided whole,
    never partially (the multimodal extractors' discipline). O(archives)
    rows out; bodies never leave the executor."""
    import hashlib

    def per_item(b):
        recs = parse_warc_records(b)
        if recs is None:
            return None
        bodies = [body for _, body in recs]
        conv = [body for h, body in recs if h.get("warc-type", "") == "conversion"]
        csv = ",".join(f"{h.get('warc-type', '')}:{len(body)}" for h, body in recs).encode()
        return [
            (
                len(recs),
                len(conv),
                sum(len(body) for body in bodies),
                max(len(body) for body in bodies),
                hashlib.md5(csv).hexdigest(),
                hashlib.md5(b"".join(conv)).hexdigest(),
            )
        ]

    return _map_payloads(df, WARC_STATS_SCHEMA, per_item)


WARC_RECORDS_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("rec_idx", IntegerType(), False),
        StructField("warc_type", StringType(), True),
        StructField("target_uri", StringType(), True),
        StructField("content_length", LongType(), False),
        StructField("body_text", StringType(), True),
    ]
)


def warc_text_records(df: DataFrame) -> DataFrame:
    """One output row per WARC record — the one-to-many SOURCE primitive
    that turns landed WET archives into a documents table (compose with
    the quality gates / dedup / tokenizer exactly like the synthetic
    `documents` table): (media_id, rec_idx, warc_type, target_uri,
    content_length, body_text). body_text is the strict-UTF-8 decode of
    conversion-record bodies (WET text payloads); non-conversion records
    keep their framing columns with NULL text, and a body that is not
    valid UTF-8 yields NULL text rather than mojibake (the downstream
    encoding gate is the policy point, not this extractor). Archives the
    parser rejects produce NO rows (filtered, not crashed) — the
    `sample_frames` discipline for source primitives, vs the stats
    operators' NULL-row voiding for per-item reports."""

    def per_item(b):
        recs = parse_warc_records(b)
        rows = []
        for k, (h, body) in enumerate(recs or []):
            text = None
            if h.get("warc-type") == "conversion":
                try:
                    text = body.decode("utf-8", "strict")
                except UnicodeDecodeError:
                    text = None
            rows.append((k, h.get("warc-type"), h.get("warc-target-uri"), len(body), text))
        return rows

    return _map_payloads(df, WARC_RECORDS_SCHEMA, per_item)


def crawl_route_records(
    docs: DataFrame,
    state: DataFrame | None = None,
    canonical_urls: bool = False,
) -> DataFrame:
    """Route exploded crawl conversion records to their ingest fate — the
    shared gate+dedup stage of ``warc_ingest_pipeline`` and its streaming
    twin (reference shape: the scraping_orchestrator's per-item accept/
    skip routing, scraping_orchestrator.py:311-331, as one declarative
    pass). Stages, in strictly-cheapening order:

    1. encoding-health gate (replacement chars, PAIR-anchored mojibake,
       C0 controls — the ``encoding_quality_gate`` expressions) →
       ``bad_encoding`` rejects;
    2. with ``canonical_urls=True``, URL-LEVEL hygiene: rows whose
       ``canonicalize_url(target_uri)`` duplicates an earlier surviving
       row — first-seen by (media_id, rec_idx) in-batch, or any row the
       persisted index already kept (``state`` carrying a ``u`` column)
       — route as ``dup_url`` WITHOUT ever hashing their content: a
       spelling duplicate removed here is a content-dedup candidate the
       md5 stage (and every downstream MinHash/semantic stage) never
       sees, so at 100 TB of crawl the knob strictly removes work
       (one map-only canonicalization + one key exchange);
    3. exact content dedup: in-batch keeper window over md5(body) plus,
       when ``state`` is given, a ONE-SIDED probe of the persisted hash
       index (never a corpus self-join) → ``dup_exact``;
    4. survivors keep their gate verdict (``ok`` / ``suspect``).

    Returns (media_id, rec_idx, target_uri, body_text, status, kept,
    n_tokens, match_mid, match_rec); duplicates point at their keeper.
    ``state`` is the loop's epoch-read index with columns (h, k_mid,
    k_rec) and, when the loop runs with ``canonical_urls=True``, the
    kept row's canonical ``u``. Everything below the caller's explode is
    JVM expressions + bounded-key windows (no Python in this stage)."""
    from pyspark.sql import Window, functions as F

    from ..functions.parsing import canonicalize_url

    occ = lambda c, lit_: F.length(c) - F.length(F.replace(c, F.lit(lit_)))
    body = F.col("body_text")
    gate = (
        F.when(
            (occ(body, "�") > 0)
            | (F.regexp_count(body, F.lit("Ã[-¿]")) > 0),
            "bad_encoding",
        )
        .when(occ(body, "") > 0, "suspect")
        .otherwise("ok")
    )
    gated = docs.select(
        "media_id", "rec_idx", "target_uri", "body_text", gate.alias("gate")
    )
    surv = gated.filter(F.col("gate") != "bad_encoding")

    url_dup = None
    if canonical_urls:
        with_u = surv.withColumn("u", canonicalize_url(F.col("target_uri")))
        uw = Window.partitionBy("u").orderBy("media_id", "rec_idx")
        marked = (
            with_u.withColumn("urn", F.row_number().over(uw))
            .withColumn("uf_mid", F.first("media_id").over(uw))
            .withColumn("uf_rec", F.first("rec_idx").over(uw))
        )
        if state is not None and "u" in state.columns:
            # first-kept keeper per canonical URL already in the index
            # (≤1 row per URL after the aggregate — a one-sided probe)
            idx_u = (
                state.select("u", F.struct("k_mid", "k_rec").alias("__k"))
                .groupBy("u")
                .agg(F.min("__k").alias("__k"))
                .select(
                    "u",
                    F.col("__k.k_mid").alias("uk_mid"),
                    F.col("__k.k_rec").alias("uk_rec"),
                )
            )
            marked = marked.join(idx_u, "u", "left")
        else:
            marked = marked.withColumn(
                "uk_mid", F.lit(None).cast("long")
            ).withColumn("uk_rec", F.lit(None).cast("int"))
        is_url_dup = F.col("uk_mid").isNotNull() | (F.col("urn") > 1)
        url_dup = marked.select(
            "media_id",
            "rec_idx",
            is_url_dup.alias("is_url_dup"),
            F.when(is_url_dup, F.coalesce("uk_mid", "uf_mid")).alias("u_match_mid"),
            F.when(is_url_dup, F.coalesce("uk_rec", "uf_rec")).alias("u_match_rec"),
        )
        # the content stage never sees URL-duplicate rows: their bodies
        # are never hashed and they cannot become content keepers
        surv = surv.join(
            url_dup.filter(~F.col("is_url_dup")).select("media_id", "rec_idx"),
            ["media_id", "rec_idx"],
            "left_semi",
        )

    surv = surv.withColumn("h", F.md5(F.col("body_text").cast("binary")))
    w = Window.partitionBy("h").orderBy("media_id", "rec_idx")
    ranked = (
        surv.withColumn("rn", F.row_number().over(w))
        .withColumn("f_mid", F.first("media_id").over(w))
        .withColumn("f_rec", F.first("rec_idx").over(w))
    )
    if state is not None:
        ranked = ranked.join(state.select("h", "k_mid", "k_rec"), "h", "left")
    else:
        ranked = ranked.withColumn("k_mid", F.lit(None).cast("long")).withColumn(
            "k_rec", F.lit(None).cast("int")
        )
    dup = F.col("k_mid").isNotNull() | (F.col("rn") > 1)
    routed = gated.join(
        ranked.select(
            "media_id",
            "rec_idx",
            F.when(dup, F.coalesce("k_mid", "f_mid")).alias("c_match_mid"),
            F.when(dup, F.coalesce("k_rec", "f_rec")).alias("c_match_rec"),
            dup.alias("is_dup"),
        ),
        ["media_id", "rec_idx"],
        "left",
    )
    if url_dup is not None:
        routed = routed.join(url_dup, ["media_id", "rec_idx"], "left")
    else:
        routed = (
            routed.withColumn("is_url_dup", F.lit(None).cast("boolean"))
            .withColumn("u_match_mid", F.lit(None).cast("long"))
            .withColumn("u_match_rec", F.lit(None).cast("int"))
        )
    status = (
        F.when(F.col("gate") == "bad_encoding", "bad_encoding")
        .when(F.coalesce(F.col("is_url_dup"), F.lit(False)), "dup_url")
        .when(F.coalesce(F.col("is_dup"), F.lit(False)), "dup_exact")
        .otherwise(F.col("gate"))
    )
    kept = status.isin("ok", "suspect")
    return routed.select(
        "media_id",
        "rec_idx",
        "target_uri",
        "body_text",
        status.alias("status"),
        kept.alias("kept"),
        F.when(kept, F.size(F.split(F.trim(F.col("body_text")), r"\s+"))).alias(
            "n_tokens"
        ),
        F.coalesce("u_match_mid", "c_match_mid").cast("long").alias("match_mid"),
        F.coalesce("u_match_rec", "c_match_rec").cast("int").alias("match_rec"),
    )
