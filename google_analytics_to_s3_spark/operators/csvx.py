"""CSV dialect sniffing + RFC 4180 parsing from bytes — the messy-
web-data ingest path a training pipeline needs (crawled exports
arrive with unknown delimiters, quoting conventions, and headers;
Spark's native CSV reader needs the dialect declared up front).

- **Sniffing** (DuckDB-sniffer-style, from first principles): score
  each candidate delimiter (`,` `;` `\\t` `|`) by parsing the sample
  with a real quote-aware splitter and rewarding consistent field
  counts > 1 across rows; detect quote usage from quoted-field
  occurrences; detect a header row by type dissonance (header cells
  are non-numeric while body columns type as numeric).
- **Parsing**: a byte-level RFC 4180 state machine — quoted fields
  with embedded delimiters/newlines, doubled-quote escapes, CRLF and
  LF records, final record without newline.  Structural errors
  (unclosed quote, stray quote mid-field) raise named
  ``ValueError``s.
- **Typing**: per-column inference over parsed bodies — int64 →
  double → string lattice (empty cells are nulls and don't demote).

Scale: one document is one CSV payload; sniff + parse run inside a
single Arrow map (no shuffle), the same per-payload shape as every
byte-path operator here.  For multi-TB single files, the native
Spark CSV reader (with the sniffed dialect passed as options) is the
split-capable path — this operator is the dialect detector and the
small-file fast path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)
from .payload_memo import decode_map

__all__ = ["parse_csv", "sniff_csv_dialect", "csv_table_stats",
           "decode_csv_stats"]

_DELIMS = [",", ";", "\t", "|"]
_MAX_CELLS = 10_000_000


def parse_csv(text: str, delim: str = ",",
              quote: str = '"') -> "list[list[str]]":
    """RFC 4180 state-machine parse → list of records (lists of
    field strings).  Handles quoted fields (embedded delimiters,
    newlines, doubled-quote escapes), CRLF/LF, and a final record
    without a trailing newline."""
    records: list[list[str]] = []
    field: list[str] = []
    row: list[str] = []
    i = 0
    n = len(text)
    in_quotes = False
    after_quoted = False
    cells = 0
    while i < n:
        c = text[i]
        if in_quotes:
            if c == quote:
                if i + 1 < n and text[i + 1] == quote:
                    field.append(quote)
                    i += 2
                    continue
                in_quotes = False
                after_quoted = True
                i += 1
                continue
            field.append(c)
            i += 1
            continue
        if c == quote:
            if field or after_quoted:
                raise ValueError("csv: stray quote mid-field")
            in_quotes = True
            i += 1
            continue
        if c == delim:
            row.append("".join(field))
            field = []
            after_quoted = False
            cells += 1
            if cells > _MAX_CELLS:
                raise ValueError("csv: too many cells")
            i += 1
            continue
        if c == "\n" or c == "\r":
            row.append("".join(field))
            field = []
            after_quoted = False
            records.append(row)
            row = []
            cells += 1
            if c == "\r" and i + 1 < n and text[i + 1] == "\n":
                i += 1
            i += 1
            continue
        if after_quoted:
            raise ValueError("csv: data after closing quote")
        field.append(c)
        i += 1
    if in_quotes:
        raise ValueError("csv: unclosed quote")
    if field or row or after_quoted:
        row.append("".join(field))
        records.append(row)
    return records


def _is_int(s: str) -> bool:
    if not s:
        return False
    body = s[1:] if s[0] in "+-" else s
    return body.isdigit()


def _is_float(s: str) -> bool:
    if not s:
        return False
    try:
        float(s)
        return True
    except ValueError:
        return False


def sniff_csv_dialect(text: str) -> dict:
    """Detect (delimiter, quoting, header) from a sample.  Scoring:
    for each candidate delimiter, parse quote-aware and reward rows
    agreeing on a field count > 1; ties break by the candidate
    order (comma first, the RFC default)."""
    best = None
    for d in _DELIMS:
        try:
            recs = parse_csv(text, delim=d)
        except ValueError:
            continue
        if not recs:
            continue
        counts: dict[int, int] = {}
        for r in recs:
            counts[len(r)] = counts.get(len(r), 0) + 1
        width, agree = max(counts.items(), key=lambda kv: kv[1])
        if width < 2:
            score = 0.0
        else:
            score = agree / len(recs) * width
        if best is None or score > best[0]:
            best = (score, d, recs, width)
    if best is None or best[0] == 0:
        raise ValueError("csv: no consistent dialect found")
    _score, delim, recs, width = best
    quoted = ('"' in text
              and any(f'{delim}"' in line or line.startswith('"')
                      for line in text.splitlines()[:50]))
    header = False
    if len(recs) >= 2 and len(recs[0]) == width:
        body = [r for r in recs[1:] if len(r) == width]
        for col in range(width):
            head_num = _is_float(recs[0][col])
            body_vals = [r[col] for r in body if r[col] != ""]
            if body_vals and not head_num \
                    and all(_is_float(v) for v in body_vals):
                header = True
                break
    return {"delimiter": delim, "quoted": quoted, "header": header,
            "n_columns": width, "n_records": len(recs)}


def csv_table_stats(raw: bytes, int_col: str) -> dict:
    """Sniff + parse + type-infer one CSV payload; return evidence:
    dialect, shape, per-type column counts, and the sum of the named
    int column (nulls skipped)."""
    text = raw.decode("utf-8")
    dia = sniff_csv_dialect(text)
    recs = parse_csv(text, delim=dia["delimiter"])
    width = dia["n_columns"]
    if not dia["header"]:
        raise ValueError("csv: headerless tables gated here")
    names = recs[0]
    body = [r for r in recs[1:] if len(r) == width]
    n_ragged = len(recs) - 1 - len(body)
    types = []
    for col in range(width):
        vals = [r[col] for r in body if r[col] != ""]
        if vals and all(_is_int(v) for v in vals):
            types.append("int64")
        elif vals and all(_is_float(v) for v in vals):
            types.append("double")
        else:
            types.append("string")
    if int_col not in names:
        raise ValueError(f"csv: no column {int_col!r}")
    ci = names.index(int_col)
    if types[ci] != "int64":
        raise ValueError(f"csv: column {int_col!r} is not int64")
    int_sum = sum(int(r[ci]) for r in body if r[ci] != "")
    int_nulls = sum(1 for r in body if r[ci] == "")
    return {
        "delim_id": _DELIMS.index(dia["delimiter"]),
        "quoted": int(dia["quoted"]),
        "n_columns": width,
        "n_rows": len(body),
        "n_ragged": n_ragged,
        "n_int_cols": sum(1 for t in types if t == "int64"),
        "n_double_cols": sum(1 for t in types if t == "double"),
        "n_string_cols": sum(1 for t in types if t == "string"),
        "int_sum": int_sum,
        "int_nulls": int_nulls,
    }


CSV_STATS_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("delim_id", IntegerType()),
    StructField("quoted", IntegerType()),
    StructField("n_columns", IntegerType()),
    StructField("n_rows", LongType()),
    StructField("n_ragged", LongType()),
    StructField("n_int_cols", IntegerType()),
    StructField("n_double_cols", IntegerType()),
    StructField("n_string_cols", IntegerType()),
    StructField("int_sum", LongType()),
    StructField("int_nulls", LongType()),
    StructField("decode_error", StringType()),
])


def decode_csv_stats(
    df: DataFrame, int_col: str,
    id_col: str = "doc_id", payload_col: str = "payload",
) -> DataFrame:
    """Arrow ``mapInPandas`` wrapper over :func:`csv_table_stats`;
    per-payload quarantine, no shuffle."""
    return decode_map(df, lambda p: csv_table_stats(bytes(p), int_col),
                      CSV_STATS_SCHEMA,
                      (ValueError, IndexError, KeyError, TypeError,
                       UnicodeDecodeError), id_col, payload_col)
