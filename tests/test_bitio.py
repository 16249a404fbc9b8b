"""operators/bitio.py: the shared bit readers, canonical codes,
varints and CRCs, checked against hand-written values; and the AST
rule that keeps private copies of them out of ``operators/``."""

import ast
import os

import pytest

from google_analytics_to_s3_spark import operators
from google_analytics_to_s3_spark.operators.bitio import (
    CanonicalCode,
    LsbBits,
    MsbBits,
    crc_lsb,
    crc_msb,
    crc_table_lsb,
    crc_table_msb,
    encode_uvarint,
    uvarint,
    zigzag,
)
from google_analytics_to_s3_spark.operators.snappy import snappy_uncompress

# --- bit readers ---------------------------------------------------------


def test_msb_reads_cross_byte_boundaries():
    br = MsbBits(bytes([0b10110100, 0b01101111, 0b10000001]))
    assert br.read(3) == 0b101
    assert br.read1() == 1
    assert br.read(7) == 0b0100011
    assert br.bitpos == 11 and br.pos == 2
    assert br.read(0) == 0
    assert br.read(5) == 0b01111
    assert br.read(8) == 0b10000001
    assert br.pos == 3


def test_lsb_reads_cross_byte_boundaries():
    br = LsbBits(bytes([0b10110100, 0b01101111, 0b10000001]))
    assert br.read(3) == 0b100
    assert br.read1() == 0
    assert br.read(7) == 0b1111011
    assert br.bitpos == 11 and br.pos == 2
    assert br.read(5) == 0b01101
    assert br.read(8) == 0b10000001


def test_unary_counts_zeros_and_consumes_the_one():
    # MSB: 0001 | 00000000 | 01...
    br = MsbBits(bytes([0b00010000, 0x00, 0b01000000]))
    assert br.unary() == 3 and br.bitpos == 4
    assert br.unary() == 13 and br.bitpos == 18
    # LSB: bits come from the low end of each byte
    br = LsbBits(bytes([0b00001000, 0x00, 0b00000010]))
    assert br.unary() == 3 and br.bitpos == 4
    assert br.unary() == 13 and br.bitpos == 18


def test_align_and_byte_position():
    for cls in (MsbBits, LsbBits):
        br = cls(bytes([0xAB, 0xCD, 0xEF]), 1)
        assert br.pos == 1
        br.read(3)
        assert br.pos == 2
        br.align()
        assert br.bitpos == 16 and br.pos == 2
        br.align()
        assert br.pos == 2
        assert br.read(8) == 0xEF


@pytest.mark.parametrize("cls", [MsbBits, LsbBits])
def test_read_past_the_end_is_truncated(cls):
    br = cls(b"\x01\x02", 0, "fmt")
    br.read(12)
    with pytest.raises(ValueError, match="^fmt: truncated"):
        br.read(5)
    assert br.read(4) == (0b0010 if cls is MsbBits else 0)
    with pytest.raises(ValueError, match="truncated"):
        br.read1()
    with pytest.raises(ValueError, match="truncated"):
        cls(b"\x00\x00").unary()
    with pytest.raises(ValueError, match="^truncated"):
        cls(b"").read(1)


# --- canonical codes -----------------------------------------------------


def test_canonical_code_decodes_rfc1951_example():
    # RFC 1951 §3.2.2: lengths (3, 3, 3, 3, 3, 2, 4, 4) for A..H give
    # F=00, A=010 ... E=110, G=1110, H=1111
    code = CanonicalCode([3, 3, 3, 3, 3, 2, 4, 4])
    assert code.slack == 0
    bits = "00" "010" "110" "1110" "1111" "011"
    data = int(bits.ljust(24, "0"), 2).to_bytes(3, "big")
    br = MsbBits(data)
    assert [code.decode(br) for _ in range(6)] == [5, 0, 4, 6, 7, 1]
    # the same codes through the LSB-first reader, each code's bits
    # still most-significant first
    packed = 0
    for i, b in enumerate(bits):
        packed |= int(b) << i
    br = LsbBits(packed.to_bytes(3, "little"))
    assert [code.decode(br) for _ in range(6)] == [5, 0, 4, 6, 7, 1]


def test_canonical_code_slack():
    assert CanonicalCode([1, 1, 1]).slack < 0      # over-subscribed
    assert CanonicalCode([1, 2]).slack > 0         # incomplete
    assert CanonicalCode([0, 1, 0, 1]).slack == 0  # complete, gaps
    assert CanonicalCode([0, 0]).max_len == 0      # no symbol


def test_canonical_code_rejects_an_unassigned_code():
    code = CanonicalCode([1, 2])  # 0, 10; 11 is unassigned
    with pytest.raises(ValueError, match="^x: invalid Huffman code"):
        code.decode(MsbBits(b"\xC0", 0, "x"))


# --- varints -------------------------------------------------------------


def test_uvarint_values():
    assert uvarint(b"\x00", 0, 10, "t") == (0, 1)
    assert uvarint(b"\x7f", 0, 10, "t") == (127, 1)
    assert uvarint(b"\xac\x02", 0, 10, "t") == (300, 2)
    assert uvarint(b"\x01\x96\x01", 1, 10, "t") == (150, 3)
    for v in (0, 1, 127, 128, 300, 2**32 - 1, 2**64 - 1):
        enc = encode_uvarint(v)
        assert uvarint(enc, 0, 10, "t") == (v, len(enc))
    assert encode_uvarint(300) == b"\xac\x02"


@pytest.mark.parametrize("max_bytes", [5, 9, 10, 11, 21])
def test_uvarint_limit_is_exact(max_bytes):
    at_limit = b"\x80" * (max_bytes - 1) + b"\x01"
    assert uvarint(at_limit, 0, max_bytes, "t") == (
        1 << (7 * (max_bytes - 1)), max_bytes)
    one_more = b"\x80" * max_bytes + b"\x01"
    with pytest.raises(ValueError, match=f"^t: varint longer than "
                                         f"{max_bytes} bytes"):
        uvarint(one_more, 0, max_bytes, "t")


def test_uvarint_truncated():
    with pytest.raises(ValueError, match="^t: truncated varint"):
        uvarint(b"\x80\x80", 0, 10, "t")
    with pytest.raises(ValueError, match="^t: truncated varint"):
        uvarint(b"\x05", 1, 10, "t")


def test_zigzag():
    assert [zigzag(v) for v in range(6)] == [0, -1, 1, -2, 2, -3]
    assert zigzag(2**64 - 1) == -(2**63)


# --- CRCs: the catalogue check values over "123456789" -------------------

_CHECK = b"123456789"


def test_crc_catalogue_check_values():
    t32 = crc_table_lsb(0xEDB88320)
    assert crc_lsb(_CHECK, t32, 0xFFFFFFFF) ^ 0xFFFFFFFF == 0xCBF43926
    t32c = crc_table_lsb(0x82F63B78)
    assert crc_lsb(_CHECK, t32c, 0xFFFFFFFF) ^ 0xFFFFFFFF == 0xE3069283
    t64 = crc_table_lsb(0xC96C5795D7870F42)
    ones = 0xFFFFFFFFFFFFFFFF
    assert crc_lsb(_CHECK, t64, ones) ^ ones == 0x995DC9BBDF1939FA
    m32 = crc_table_msb(0x04C11DB7, 32)
    assert crc_msb(_CHECK, m32, 32, 0xFFFFFFFF) ^ 0xFFFFFFFF \
        == 0xFC891918                                   # CRC-32/BZIP2
    assert crc_msb(_CHECK, m32, 32, 0xFFFFFFFF) == 0x0376E6E7  # MPEG-2
    assert crc_msb(_CHECK, m32, 32, 0) == 0x89A1897F           # Ogg
    assert crc_msb(_CHECK, crc_table_msb(0x07, 8), 8, 0) == 0xF4
    assert crc_msb(_CHECK, crc_table_msb(0x8005, 16), 16, 0) == 0xFEE8


def test_format_crcs_keep_their_check_values():
    from google_analytics_to_s3_spark.operators import (
        bzip2, inflate, mpegts, snappy, vorbis, xz,
    )

    assert inflate.crc32(_CHECK) == 0xCBF43926
    assert snappy.crc32c(_CHECK) == 0xE3069283
    assert xz.crc64(_CHECK) == 0x995DC9BBDF1939FA
    assert bzip2._bz_crc(_CHECK) == 0xFC891918
    assert mpegts.crc32_mpeg(_CHECK) == 0x0376E6E7
    assert vorbis._ogg_crc32(_CHECK) == 0x89A1897F


# --- snappy's preamble is a uint32 ---------------------------------------


def test_snappy_preamble_is_at_most_five_bytes():
    assert snappy_uncompress(b"\x05\x10hello") == b"hello"
    # 5 + 0 * 2**35: a 6-byte varint for 5, then a 5-byte literal
    with pytest.raises(ValueError, match="longer than 5 bytes"):
        snappy_uncompress(bytes([0x85, 0x80, 0x80, 0x80, 0x80, 0x00,
                                 0x10]) + b"hello")
    # 2**32 fits in 5 bytes but not in a uint32
    with pytest.raises(ValueError, match="snappy"):
        snappy_uncompress(bytes([0x80, 0x80, 0x80, 0x80, 0x10, 0x10])
                          + b"hello")


# --- the AST rule: no private bit primitives in operators/ ---------------

OPERATORS = os.path.dirname(operators.__file__)

# Definitions that match a pattern but stay where they are (the
# bitio.py docstring gives the reasons at more length):
ALLOWED = {
    # zstd's backward stream: read from the last byte down, zero fill
    # past the start; one user
    "zstd.py: bit-reader _BackBits",
    # LZMA's range coder: arithmetic decoding, not a bitstream
    "xz.py: bit-reader _Range",
    "xz.py: bit-reader _REnc",
    # the DEFLATE compressor's writer
    "inflate.py: bit-reader _BitWriter",
}

_READ_METHODS = {"read", "read1", "bit", "bits"}


def bit_primitives(source: str) -> list[str]:
    """``line: kind name`` for each private bit primitive in
    ``source``:

    - ``leb128``: ``& 0x7F`` shifted left inside a loop;
    - ``bit-reader``: a class that indexes bytes by ``pos >> 3`` or
      has a ``read``, ``read1``, ``bit`` or ``bits`` method;
    - ``crc``: a loop over ``range(256)`` with eight rounds per entry
      (a CRC table), or eight rounds that XOR in a constant (a
      bit-serial CRC)."""
    hits = []

    def is_const(node, value=None):
        return isinstance(node, ast.Constant) and (
            value is None or node.value == value)

    def is_range(node, n):
        return (isinstance(node, ast.Call)
                and isinstance(node.func, ast.Name)
                and node.func.id == "range" and len(node.args) == 1
                and is_const(node.args[0], n))

    def is_crc(node):
        if not isinstance(node, ast.For):
            return False
        if is_range(node.iter, 256):
            return any(isinstance(c, ast.For) and is_range(c.iter, 8)
                       for c in ast.walk(node))
        return is_range(node.iter, 8) and any(
            isinstance(c, ast.BinOp) and isinstance(c.op, ast.BitXor)
            and (is_const(c.left) or is_const(c.right))
            for c in ast.walk(node))

    def visit(node, scope, in_loop, in_crc):
        for child in ast.iter_child_nodes(node):
            name = scope
            if isinstance(child, (ast.FunctionDef, ast.ClassDef)):
                name = f"{scope}.{child.name}" if scope else child.name
            loop = in_loop or isinstance(child, (ast.For, ast.While))
            if (loop and isinstance(child, ast.BinOp)
                    and isinstance(child.op, ast.LShift)
                    and isinstance(child.left, ast.BinOp)
                    and isinstance(child.left.op, ast.BitAnd)
                    and is_const(child.left.right, 0x7F)):
                hits.append(f"{child.lineno}: leb128 {name}")
            if isinstance(child, ast.ClassDef) and (
                    any(isinstance(f, ast.FunctionDef)
                        and f.name in _READ_METHODS for f in child.body)
                    or any(isinstance(n, ast.BinOp)
                           and isinstance(n.op, ast.RShift)
                           and is_const(n.right, 3)
                           for n in ast.walk(child))):
                hits.append(f"{child.lineno}: bit-reader {name}")
            crc = not in_crc and is_crc(child)
            if crc:
                hits.append(f"{child.lineno}: crc {name}")
            visit(child, name, loop, in_crc or crc)

    visit(ast.parse(source), "", False, False)
    return hits


def test_bit_primitive_rule_sees_hand_written_copies():
    src = (
        "def varint(data, pos):\n"
        "    out = shift = 0\n"
        "    while True:\n"
        "        b = data[pos]\n"
        "        out |= (b & 0x7F) << shift\n"
        "        if b < 0x80:\n"
        "            return out\n"
        "        shift += 7\n"
        "class Bits:\n"
        "    def one(self):\n"
        "        p = self.pos\n"
        "        self.pos += 1\n"
        "        return (self.data[p >> 3] >> (7 - (p & 7))) & 1\n"
        "TABLE = []\n"
        "for n in range(256):\n"
        "    c = n\n"
        "    for _ in range(8):\n"
        "        c = (c >> 1) ^ POLY if c & 1 else c >> 1\n"
        "    TABLE.append(c)\n"
        "class ByteBits:\n"
        "    def read(self, n):\n"
        "        return self.data[self.pos] >> self.bit\n"
        "def crc_serial(data, crc):\n"
        "    for byte in data:\n"
        "        crc ^= byte << 24\n"
        "        for _ in range(8):\n"
        "            crc = (crc << 1) ^ 0x04C11DB7 if crc >> 31 else crc\n"
        "    return crc\n"
        "def fine(data, out):\n"
        "    hist = [0] * 256\n"
        "    for v in range(256):\n"
        "        hist[v] = data.count(v) >> 3\n"
        "    for i in range(8):\n"
        "        out[i] = data[i] ^ data[-i]\n"
        "    return uvarint(data, 0, 10, 'x'), data[0] & 0x7F\n"
    )
    assert bit_primitives(src) == [
        "5: leb128 varint", "9: bit-reader Bits", "15: crc ",
        "20: bit-reader ByteBits", "26: crc crc_serial",
    ]


def test_operators_use_the_shared_bit_primitives():
    found = set()
    for module in sorted(os.listdir(OPERATORS)):
        if not module.endswith(".py") or module == "bitio.py":
            continue
        with open(os.path.join(OPERATORS, module)) as f:
            found |= {f"{module}: {hit.split(': ', 1)[1]}"
                      for hit in bit_primitives(f.read())}
    assert found - set(ALLOWED) == set()
