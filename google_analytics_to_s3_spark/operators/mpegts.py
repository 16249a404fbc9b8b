"""REAL MPEG-TS (transport stream) demux — public spec ISO/IEC
13818-1 (MPEG-2 Systems).

MPEG-TS is the broadcast/HLS segment container (``.ts`` files are all
over web crawls as HLS media segments). This module implements the
real byte path:

- **packets**: 188-byte units, 0x47 sync, TEI/PUSI/PID header fields,
  adaptation-field handling (length + stuffing skip), per-PID
  continuity-counter verification;
- **PSI**: pointer fields, PAT (table 0x00) → program map PIDs, PMT
  (table 0x02) → elementary streams (stream_type, PID), both with
  REAL CRC-32/MPEG-2 verification (poly 0x04C11DB7, init all-ones,
  unreflected — computed, not assumed);
- **PES**: start-code check, stream id, declared packet length,
  header-extension length walk (PTS/DTS skipped by length), and
  elementary-stream reassembly across TS packets keyed on PUSI — so
  a contained MP3 stream chain-decodes through the real Layer III
  path (operators/mp3.py), the MP4/AVI/MKV chain discipline.

Honest named gates: scrambled packets (transport_scrambling_control
!= 0) and unbounded-length video PES (PES_packet_length == 0).

Untrusted-input discipline matches the other byte paths: explicit
bounds, truncation checks, ValueError on malformed input, per-payload
quarantine in the Arrow wrapper. No MPEG-TS surface exists in the
reference repo (mydatastack/google-analytics-to-s3).
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
from .bitio import crc_msb, crc_table_msb
from .payload_memo import PAYLOAD_SCHEMA, decode_map

_PKT = 188


_CRC = crc_table_msb(0x04C11DB7, 32)


def crc32_mpeg(data: bytes) -> int:
    """CRC-32/MPEG-2: poly 0x04C11DB7, init 0xFFFFFFFF, no reflection,
    no final xor (the PSI section checksum)."""
    return crc_msb(data, _CRC, 32, 0xFFFFFFFF)


def _psi_section(payload: bytes) -> bytes:
    """Strip the pointer field and return one PSI section (with CRC
    verified)."""
    if not payload:
        raise ValueError("empty PSI payload")
    ptr = payload[0]
    sec = payload[1 + ptr:]
    if len(sec) < 3:
        raise ValueError("truncated PSI section header")
    section_length = int.from_bytes(sec[1:3], "big") & 0x0FFF
    total = 3 + section_length
    if total > len(sec):
        raise ValueError("PSI section overruns its packet")
    sec = sec[:total]
    if crc32_mpeg(sec) != 0:
        raise ValueError("PSI section CRC-32 mismatch")
    return sec


def _parse_pat(sec: bytes) -> "dict[int, int]":
    if sec[0] != 0x00:
        raise ValueError("PAT table_id mismatch")
    programs: dict[int, int] = {}
    for pos in range(8, len(sec) - 4, 4):
        prog = int.from_bytes(sec[pos:pos + 2], "big")
        pid = int.from_bytes(sec[pos + 2:pos + 4], "big") & 0x1FFF
        if prog != 0:
            programs[prog] = pid
    return programs


def _parse_pmt(sec: bytes) -> "list[tuple[int, int]]":
    if sec[0] != 0x02:
        raise ValueError("PMT table_id mismatch")
    if len(sec) < 12:
        raise ValueError("truncated PMT")
    program_info_len = int.from_bytes(sec[10:12], "big") & 0x0FFF
    pos = 12 + program_info_len
    streams: list[tuple[int, int]] = []
    while pos + 5 <= len(sec) - 4:
        stype = sec[pos]
        pid = int.from_bytes(sec[pos + 1:pos + 3], "big") & 0x1FFF
        es_info = int.from_bytes(sec[pos + 3:pos + 5], "big") & 0x0FFF
        streams.append((stype, pid))
        pos += 5 + es_info
    return streams


def _strip_pes(data: bytes) -> bytes:
    """Strip one PES packet header; returns the elementary stream
    payload."""
    if len(data) < 9 or data[:3] != b"\x00\x00\x01":
        raise ValueError("PES start code missing")
    pes_len = int.from_bytes(data[4:6], "big")
    if pes_len == 0:
        raise ValueError("unbounded-length PES unsupported")
    if 6 + pes_len > len(data):
        raise ValueError("PES packet overruns its data")
    data = data[:6 + pes_len]
    if (data[6] >> 6) != 0b10:
        raise ValueError("PES marker bits missing")
    header_len = data[8]
    if 9 + header_len > len(data):
        raise ValueError("PES header length overruns packet")
    return data[9 + header_len:]


def parse_mpegts(raw: bytes) -> dict:
    """Full linear demux; returns n_packets, programs, streams
    [(stream_type, pid)], and per-PID reassembled elementary-stream
    bytes."""
    if len(raw) % _PKT:
        raise ValueError("MPEG-TS length not a packet multiple")
    n_packets = len(raw) // _PKT
    if n_packets > 2_000_000:
        raise ValueError("MPEG-TS packet count exceeds bound")
    programs: dict[int, int] = {}
    streams: list[tuple[int, int]] = []
    pes_buf: dict[int, bytearray] = {}
    es: dict[int, bytearray] = {}
    last_cc: dict[int, int] = {}
    pmt_pids: set[int] = set()
    es_pids: set[int] = set()

    def _finalize(pid: int) -> None:
        buf = pes_buf.pop(pid, None)
        if buf:
            es.setdefault(pid, bytearray()).extend(
                _strip_pes(bytes(buf)))

    for i in range(n_packets):
        pkt = raw[i * _PKT:(i + 1) * _PKT]
        if pkt[0] != 0x47:
            raise ValueError(f"TS sync byte missing at packet {i}")
        if pkt[1] & 0x80:
            raise ValueError("TS transport_error_indicator set")
        pusi = bool(pkt[1] & 0x40)
        pid = int.from_bytes(pkt[1:3], "big") & 0x1FFF
        if (pkt[3] >> 6) & 3:
            raise ValueError("scrambled TS packet unsupported")
        afc = (pkt[3] >> 4) & 3
        cc = pkt[3] & 0xF
        pos = 4
        if afc in (2, 3):
            af_len = pkt[4]
            pos = 5 + af_len
            if pos > _PKT:
                raise ValueError("TS adaptation field overruns packet")
        if afc in (1, 3):
            if pid in last_cc and cc != (last_cc[pid] + 1) % 16:
                raise ValueError(f"TS continuity error on PID {pid}")
            last_cc[pid] = cc
        else:
            continue  # no payload
        payload = pkt[pos:]
        if pid == 0:
            programs.update(_parse_pat(_psi_section(payload)))
            pmt_pids = set(programs.values())
        elif pid in pmt_pids:
            for stype, spid in _parse_pmt(_psi_section(payload)):
                if (stype, spid) not in streams:
                    streams.append((stype, spid))
                    es_pids.add(spid)
        elif pid in es_pids:
            if pusi:
                _finalize(pid)
                pes_buf[pid] = bytearray(payload)
            elif pid in pes_buf:
                pes_buf[pid].extend(payload)
            else:
                raise ValueError(
                    f"TS payload before PES start on PID {pid}")
    for pid in list(pes_buf):
        _finalize(pid)
    return {"n_packets": n_packets, "programs": programs,
            "streams": streams,
            "es": {pid: bytes(b) for pid, b in es.items()}}


def extract_ts_audio(raw: bytes) -> bytes:
    """Reassembled MP3 elementary stream (stream types 0x03/0x04)."""
    m = parse_mpegts(raw)
    for stype, pid in m["streams"]:
        if stype in (0x03, 0x04):
            if pid not in m["es"]:
                raise ValueError("MP3 stream declared but empty")
            return m["es"][pid]
    raise ValueError("no MPEG audio stream present")


TS_DEMUX_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("n_packets", IntegerType()),
    StructField("n_programs", IntegerType()),
    StructField("n_streams", IntegerType()),
    StructField("private_bytes", LongType()),
    StructField("decode_error", StringType()),
])


def demux_ts_features(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Arrow ``mapInPandas`` wrapper over :func:`parse_mpegts`;
    ``private_bytes`` totals the reassembled private-data (stream
    type 0x06) elementary streams. Per-payload quarantine, no
    shuffle."""

    def _parse(payload) -> dict:
        m = parse_mpegts(bytes(payload))
        return {"n_packets": m["n_packets"],
                "n_programs": len(m["programs"]),
                "n_streams": len(m["streams"]),
                "private_bytes": sum(
                    len(m["es"].get(pid, b""))
                    for stype, pid in m["streams"] if stype == 0x06)}

    return decode_map(df, _parse, TS_DEMUX_SCHEMA,
                      (ValueError, IndexError), id_col, payload_col)


def extract_ts_audio_df(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """(doc_id, container) -> (doc_id, MP3 elementary stream) for
    chained decoding; failed payloads are dropped."""
    return decode_map(
        df, lambda p: {"payload": extract_ts_audio(bytes(p))},
        PAYLOAD_SCHEMA, (ValueError, IndexError), id_col, payload_col)
