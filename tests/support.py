"""Helpers shared by more than one test module: the testdata path, the
Python side of the engine's hashes, the DuckDB oracle runner, the
embedding near-dup parameters, and a from-scratch baseline JPEG encoder
for decoder fixtures.

A plain module, imported by the test modules that need it; shared pytest
fixtures live in ``conftest.py``.
"""

import hashlib
import struct

import duckdb
import numpy as np

from osm_to_netex_spark.operators import media

# the generated scale-factor corpora (TESTDATA.md); no other test module
# names this directory
TESTDATA = "/root/testdata"
SF = f"{TESTDATA}/sf0.001"
SF0_01 = f"{TESTDATA}/sf0.01"
SF0_1 = f"{TESTDATA}/sf0.1"

# seed-ensemble embedding near-dup parameters (dedup.embedding_near_dup_ensemble)
BITS = 4
SEEDS = 3
THRESHOLD = 0.35


def phash60(s: str) -> int:
    """Python twin of ``functions.portable.phash60``: the first 60 bits of md5."""
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def duck(sf_dir, sql):
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.sql(
            f"create or replace view {t} as "
            f"select * from read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con.sql(sql).fetchall()


# ---------------------------------------------------------------------------
# baseline JPEG encoder (forward DCT, canonical Huffman, byte stuffing,
# all-ones quant tables) for the media decoder tests
# ---------------------------------------------------------------------------
ZZ = media._JPEG_ZIGZAG


def _dct_matrix():
    return media._jpeg_idct_matrix()  # orthogonal: forward = M @ f @ M.T


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value, nbits):
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)
                self.acc, self.n = 0, 0

    def pad(self):
        while self.n:
            self.write(1, 1)


def _category(v):
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


def _huff_build(symbols):
    """Canonical table: all symbols at one length L with 2^L > n (keeps the
    all-ones code unused).  Returns (counts16, ordered_syms, code_map)."""
    syms = sorted(set(symbols))
    n = len(syms)
    L = max(2, (n + 1 - 1).bit_length())
    while (1 << L) <= n:
        L += 1
    counts = [0] * 16
    counts[L - 1] = n
    code_map = {s: (L, c) for c, s in enumerate(syms)}
    return counts, syms, code_map


def _encode_block(bw, blk, pred, dc_map, ac_map):
    """blk: 8x8 float pixel block (already level-shifted), unit quant."""
    m = _dct_matrix()
    coef = np.round(m @ blk @ m.T).astype(np.int64)
    zz = coef.reshape(-1)[ZZ]
    diff = int(zz[0]) - pred
    t = _category(diff) if diff else 0
    bw.write(*_sym(dc_map, t))
    if t:
        bw.write(diff if diff > 0 else diff + (1 << t) - 1, t)
    run = 0
    last = 63
    while last > 0 and zz[last] == 0:
        last -= 1
    for k in range(1, last + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run >= 16:
            bw.write(*_sym(ac_map, 0xF0))  # ZRL
            run -= 16
        size = _category(v)
        bw.write(*_sym(ac_map, (run << 4) | size))
        bw.write(v if v > 0 else v + (1 << size) - 1, size)
        run = 0
    if last < 63:
        bw.write(*_sym(ac_map, 0x00))  # EOB
    return int(zz[0])


def _sym(code_map, s):
    L, c = code_map[s]
    return c, L


def _collect_symbols(planes_blocks):
    """Pre-scan all blocks to know which DC/AC symbols the tables need."""
    m = _dct_matrix()
    dc_syms, ac_syms = {0x00}, {0x00, 0xF0}
    for blocks in planes_blocks:
        pred = 0
        for blk in blocks:
            coef = np.round(m @ blk @ m.T).astype(np.int64)
            zz = coef.reshape(-1)[ZZ]
            diff = int(zz[0]) - pred
            pred = int(zz[0])
            dc_syms.add(_category(diff) if diff else 0)
            run, last = 0, 63
            while last > 0 and zz[last] == 0:
                last -= 1
            for k in range(1, last + 1):
                v = int(zz[k])
                if v == 0:
                    run += 1
                    continue
                run %= 16
                ac_syms.add((run << 4) | _category(v))
                run = 0
    return dc_syms, ac_syms


def encode_jpeg(planes, samps, w, h, restart_interval=0):
    """Minimal baseline encoder: ``planes`` are full-res float64 arrays
    (already component-converted, e.g. Y/Cb/Cr in [0,255]) each ALREADY at
    its sampled resolution; ``samps`` the (h_samp, v_samp) per component.
    Dimensions must tile the MCU grid exactly.  Unit quant tables."""
    hmax = max(s[0] for s in samps)
    vmax = max(s[1] for s in samps)
    mcols, mrows = w // (8 * hmax), h // (8 * vmax)

    def blocks_of(p, hs, vs):
        out = []
        for my in range(mrows):
            for mx in range(mcols):
                for by in range(vs):
                    for bx in range(hs):
                        y0, x0 = (my * vs + by) * 8, (mx * hs + bx) * 8
                        out.append(p[y0 : y0 + 8, x0 : x0 + 8] - 128.0)
        return out

    per_comp = [blocks_of(p, hs, vs) for p, (hs, vs) in zip(planes, samps)]
    dc_syms, ac_syms = _collect_symbols(per_comp)
    dc_counts, dc_ord, dc_map = _huff_build(dc_syms)
    ac_counts, ac_ord, ac_map = _huff_build(ac_syms)

    out = bytearray(b"\xff\xd8")
    qt = b"\x00" + bytes([1] * 64)
    out += b"\xff\xdb" + struct.pack(">H", 2 + len(qt)) + qt
    nc = len(planes)
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([nc])
    for i, (hs, vs) in enumerate(samps):
        sof += bytes([i + 1, (hs << 4) | vs, 0])
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    for tc, (counts, syms) in ((0, (dc_counts, dc_ord)), (1, (ac_counts, ac_ord))):
        seg = bytes([tc << 4]) + bytes(counts) + bytes(
            s if isinstance(s, int) else s for s in syms
        )
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(seg)) + seg
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    sos = bytes([nc])
    for i in range(nc):
        sos += bytes([i + 1, 0x00])
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    bw = _BitWriter()
    preds = [0] * nc
    idx = [0] * nc
    n_mcu = 0
    for _ in range(mrows * mcols):
        if restart_interval and n_mcu and n_mcu % restart_interval == 0:
            bw.pad()
            out += bw.out
            bw = _BitWriter()
            out += bytes([0xFF, 0xD0 + ((n_mcu // restart_interval - 1) % 8)])
            preds = [0] * nc
        n_mcu += 1
        for c, (hs, vs) in enumerate(samps):
            for _ in range(hs * vs):
                preds[c] = _encode_block(
                    bw, per_comp[c][idx[c]], preds[c], dc_map, ac_map
                )
                idx[c] += 1
    bw.pad()
    out += bw.out + b"\xff\xd9"
    return bytes(out)

