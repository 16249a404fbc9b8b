"""RFC 5322 / MIME email extraction (stdlib ``email`` package with
the modern ``policy.default``).

Mailing-list archives and support corpora are classic LLM text
sources; the pipeline stage is: parse the message tree, decode
transfer encodings (quoted-printable, base64), pull the text/plain
body, and surface structure signals (multipart shape, attachments,
HTML alternative). The stdlib parser is the byte path here — same
stance as zlib for DEFLATE: a vetted public implementation of a
public format, driven through real multipart/QP/base64 payloads and
verified against planted rules.

Extracted per message: subject, sender domain, part count,
attachment count, an HTML-alternative flag, and whitespace-invariant
text stats over all text/plain parts.

Per-payload imperative parse → Arrow ``mapInPandas`` with quarantine,
no shuffle. No email surface exists in the reference repo
(mydatastack/google-analytics-to-s3).
"""

from __future__ import annotations

import email
import email.policy
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)
from .fuse import id_payload_projection
from .payload_memo import decode_map, dedup_payload_batches

_MAX_MSG = 64 * 1024 * 1024


def parse_email(raw: bytes) -> dict:
    if len(raw) > _MAX_MSG:
        raise ValueError("message exceeds size bound")
    msg = email.message_from_bytes(raw, policy=email.policy.default)
    subject = str(msg.get("Subject", ""))
    from_addr = str(msg.get("From", ""))
    domain = from_addr.rsplit("@", 1)[-1].strip(" >") \
        if "@" in from_addr else ""
    n_parts = 0
    n_attachments = 0
    has_html = 0
    texts: list[str] = []
    for part in msg.walk():
        if part.is_multipart():
            continue
        n_parts += 1
        ctype = part.get_content_type()
        disp = str(part.get("Content-Disposition", ""))
        if disp.lower().startswith("attachment"):
            n_attachments += 1
            continue
        if ctype == "text/plain":
            texts.append(part.get_content())
        elif ctype == "text/html":
            has_html = 1
    if n_parts == 0:
        raise ValueError("message has no body parts")
    return {"subject": subject, "from_domain": domain,
            "n_parts": n_parts, "n_attachments": n_attachments,
            "has_html": has_html, "text": "\n".join(texts)}


EMAIL_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("subject", StringType()),
    StructField("from_domain", StringType()),
    StructField("n_parts", IntegerType()),
    StructField("n_attachments", IntegerType()),
    StructField("has_html", IntegerType()),
    StructField("text_words", LongType()),
    StructField("word_chars", LongType()),
    StructField("extract_error", StringType()),
])


def extract_email_features(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Arrow ``mapInPandas`` over :func:`parse_email`."""

    def _parse(payload) -> dict:
        m = parse_email(bytes(payload))
        toks = m["text"].split()
        return {"subject": m["subject"], "from_domain": m["from_domain"],
                "n_parts": m["n_parts"],
                "n_attachments": m["n_attachments"],
                "has_html": m["has_html"], "text_words": len(toks),
                "word_chars": sum(len(t) for t in toks)}

    # the stdlib parser's error surface is broad; quarantine per payload
    return decode_map(df, _parse, EMAIL_SCHEMA, (Exception,),
                      id_col, payload_col)


def split_mbox(raw: bytes) -> "list[bytes]":
    """Split an mbox archive into messages on RFC 4155 ``From ``
    separator lines, reversing ``>From `` quoting in bodies."""
    if not raw.startswith(b"From "):
        raise ValueError("mbox From_ separator missing")
    msgs: list[bytes] = []
    current: list[bytes] = []
    for line in raw.split(b"\n"):
        if line.startswith(b"From "):
            if current:
                msgs.append(b"\n".join(current))
            current = []
            continue  # the From_ line itself is not part of the msg
        if line.startswith(b">From "):
            line = line[1:]
        current.append(line)
        if len(msgs) > 1_000_000:
            raise ValueError("mbox message count exceeds bound")
    if current:
        msgs.append(b"\n".join(current))
    return msgs


def mbox_rows(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """The 1→N mailing-list explode: one row per message —
    (row_id = archive_id * 100 + ordinal, archive_id, message bytes)
    — feeding :func:`extract_email_features`; the per-archive rollup
    downstream is declarative DataFrame code. Archives that fail to
    split contribute zero rows."""

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in (
                "row_id", "archive_id", "payload")}
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                try:
                    msgs = split_mbox(bytes(payload))
                except (ValueError, IndexError):
                    continue
                for i, msg in enumerate(msgs):
                    out["row_id"].append(int(doc_id) * 100 + i)
                    out["archive_id"].append(doc_id)
                    out["payload"].append(msg)
            yield pd.DataFrame({
                "row_id": pd.Series(out["row_id"], dtype="int64"),
                "archive_id": pd.Series(out["archive_id"],
                                        dtype="int64"),
                "payload": pd.Series(out["payload"], dtype=object),
            })

    # payload-dedup (r13 opt): outputs are payload-pure except the two
    # id columns — archive_id is the pass-through, and row_id is
    # rebuilt from it on replicated rows (ordinal survives mod 100)
    def _fix_row_id(sub):
        sub["row_id"] = (sub["archive_id"] * 100
                         + sub["row_id"] % 100).astype("int64")
        return sub

    return id_payload_projection(df, id_col, payload_col).mapInPandas(
        dedup_payload_batches(_run, id_col, payload_col,
                              out_id_col="archive_id",
                              fixup=_fix_row_id),
        schema="row_id long, archive_id long, payload binary"
    )
