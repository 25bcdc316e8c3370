"""Reference bit-level JPEG entropy I/O, kept as differential-test oracles.

The engine reads entropy segments through ``_FastBits`` + ``_huff_lut`` and
writes them through ``_pack_bits_np`` / ``_BufferedBitWriter``.  The three
per-bit forms below are the originals those fast paths are pinned against
(byte-identity and refusal-parity tests, ``ref_progressive_r11``).  Do not
modernize: their value is being bit-for-bit the old reader and writer.
"""


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.out.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits per spec
        return bytes(self.out)

    def restart(self, m: int) -> None:
        """Byte-align with 1-bit padding (through ``write`` so a 0xFF pad
        byte still gets its stuffed 0x00), then emit RSTm.  The marker
        itself is raw stream structure, never stuffed (T.81 §B.2.1)."""
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)
        self.out += bytes([0xFF, 0xD0 + (m & 7)])


def _read_huff_sym(br: "_BitReader", tab: dict[tuple[int, int], int]) -> int:
    """Read one canonical-huffman symbol (≤16 bits) — the entropy-decode
    primitive shared by the sequential and progressive scan loops."""
    code, length = 0, 0
    while length < 16:
        code = (code << 1) | br.bit()
        length += 1
        sym = tab.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("bad huffman code")


class _BitReader:
    """Entropy-segment bit reader with 0xFF00 unstuffing; raises on any
    embedded marker mid-symbol.  Restart markers are consumed only at the
    explicit ``restart_sync`` call sites the MCU loop schedules from the
    DRI interval — an RSTn reached any other way is stream corruption."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        b = self.data[self.pos]
        self.pos += 1
        if b == 0xFF:
            nxt = self.data[self.pos]
            if nxt == 0x00:
                self.pos += 1
            else:
                raise ValueError(f"unexpected marker FF{nxt:02X} in scan")
        # only ever called with the accumulator drained (nbits == 0) —
        # REPLACE it rather than shift-or, or acc grows into an unbounded
        # bigint and decode goes quadratic in scan length (review catch r6)
        self.acc = b
        self.nbits = 8

    def bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def restart_sync(self) -> int:
        """Discard the pad bits of the current byte and consume one RSTm
        marker; returns m (0–7) for the caller's cycle check.  After the
        discard, ``pos`` is always AT the marker: a partially-read pad
        byte lives in the accumulator (``_fill`` already consumed its
        stuffed 0x00 if it was 0xFF), and an exactly-byte-aligned MCU
        leaves no pad byte at all (T.81 §B.2.1 fill-bit rule)."""
        self.nbits = 0
        if (
            self.pos + 1 >= len(self.data)
            or self.data[self.pos] != 0xFF
            or not (0xD0 <= self.data[self.pos + 1] <= 0xD7)
        ):
            raise ValueError("missing JPEG restart marker")
        m = self.data[self.pos + 1] & 0x07
        self.pos += 2
        return m
