"""FSST-style symbol-table string codec (own-format only).

Mandated by the project north_star as an ADDED codec — the reference has
no string codec beyond dictionary (fastparquet/writer.py:481-517).  Not a
Parquet-standard encoding, so it never appears on the parquet-compat
output path (SURVEY.md §7.4); the engine uses it inside its own column
containers where we control both encode and decode.

Design (an FSST variant tuned for vectorized Python, after the FSST
paper's core idea: a ≤255-entry table of ≤8-byte symbols, 1-byte codes,
escape byte for uncovered literals):

- Pick the ``K+1`` RAREST byte values of a training sample as reserved
  values ``R``: one escape byte ``e`` plus ``K`` symbol codes.  All other
  bytes encode as themselves (identity literals, 1 byte).
- Raw occurrences of reserved bytes are escaped as ``(e, b)``.
- Multi-byte symbols (2..8 bytes, drawn from frequent n-grams of the
  sample, never containing reserved bytes) are substituted in ONE
  vectorized pass per symbol LENGTH (longest first): all windows of
  that length are hashed to uint64 keys, matched against the symbol
  set via searchsorted, conflict-resolved (claimed-byte cumsum against
  longer tiers + leftmost-greedy within the tier), and the output is
  assembled with two numpy scatters.  Symbols contain no reserved
  bytes, so a window overlapping an escape pair can never match —
  substitutions are exact and decode is unambiguous.
- Decode is fully vectorized: escape-run parity analysis + two numpy
  scatters (literals, symbol expansions).  No per-row Python.

Greedy left-to-right longest-match (true FSST) is approximated by
length-tier priority; this affects only the ratio, never correctness.
(The previous implementation ran one C-level ``bytes.replace`` pass
per symbol — up to 128 full-buffer scans, ~22 MB/s; the tiered
single-pass-per-length form is ~10-20x faster at the same ratio.)
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from fastparquet_spark.codecs.compression import byte_view

MAX_SYMBOLS = 128
MAX_SYMBOL_LEN = 8
_NGRAM_SIZES = (2, 3, 4, 6, 8)
_MAX_TRAIN = 1 << 17  # 128 KiB training sample (strided, _train_sample)
_TRAIN_CHUNKS = 16    # evenly spaced slices the sample gathers
_MAX_PER_PREFIX = 4   # symbols sharing a 2-byte prefix (chain depth cap)


@dataclass
class FsstTable:
    escape: int                 # reserved escape byte value
    codes: np.ndarray           # uint8[K] code byte values
    symbols: list[bytes]        # K symbols, symbols[i] <-> codes[i]

    def serialize(self) -> bytes:
        out = bytearray([self.escape, len(self.symbols)])
        out += self.codes.tobytes()
        for s in self.symbols:
            out.append(len(s))
            out += s
        return bytes(out)

    @classmethod
    def deserialize(cls, buf, offset: int = 0) -> tuple["FsstTable", int]:
        escape = buf[offset]
        k = buf[offset + 1]
        pos = offset + 2
        codes = np.frombuffer(bytes(buf[pos:pos + k]), dtype=np.uint8).copy()
        pos += k
        symbols = []
        for _ in range(k):
            ln = buf[pos]
            symbols.append(bytes(buf[pos + 1:pos + 1 + ln]))
            pos += 1 + ln
        return cls(escape, codes, symbols), pos


def _byte_counts(sample: np.ndarray) -> np.ndarray:
    return np.bincount(sample, minlength=256)


def _train_sample(data: np.ndarray) -> np.ndarray:
    """Strided training sample: _MAX_TRAIN bytes gathered from
    _TRAIN_CHUNKS evenly spaced slices.  Representative of the WHOLE
    buffer (a head prefix over-fits the first rows) and bounds the
    n-gram sort work to the sample size — training went from dominating
    small-chunk container encodes (~1.5s per column) to ~0.2s, with a
    slightly BETTER ratio on source-content than the old 1 MiB head
    sample (0.5682 vs 0.5703).  The few chunk joins add spurious
    n-grams; at 16 joins per 128 KiB they never reach the score top."""
    if len(data) <= _MAX_TRAIN:
        return np.ascontiguousarray(data, dtype=np.uint8)
    step = len(data) // _TRAIN_CHUNKS
    sz = _MAX_TRAIN // _TRAIN_CHUNKS
    idx = np.concatenate([np.arange(i * step, i * step + sz)
                          for i in range(_TRAIN_CHUNKS)])
    return np.ascontiguousarray(np.asarray(data, dtype=np.uint8)[idx])


def fsst_train(data: np.ndarray, max_symbols: int = MAX_SYMBOLS) -> FsstTable:
    """Build a symbol table from (a strided sample of) a uint8 buffer."""
    sample = _train_sample(data)
    counts = _byte_counts(sample)
    # reserve the rarest byte values: escape + up to max_symbols codes
    order = np.argsort(counts, kind="stable")  # rarest first
    reserved = order[: max_symbols + 1]
    escape = int(reserved[0])
    code_pool = reserved[1:]
    is_reserved = np.zeros(256, dtype=bool)
    is_reserved[reserved] = True

    # candidate n-grams from sliding windows, scored by (len-1)*count
    cands: list[tuple[int, bytes]] = []
    for n in _NGRAM_SIZES:
        if len(sample) <= n:
            continue
        win = np.lib.stride_tricks.sliding_window_view(sample, n)
        # exclude windows touching reserved bytes
        ok = ~is_reserved[win].any(axis=1)
        if not ok.any():
            continue
        # pack each n-gram into a BIG-ENDIAN uint64: numeric order of
        # the packed values IS lexicographic byte order, so np.unique
        # returns the same uniq/cnt (in the same order) as the previous
        # void-dtype spelling — but integer sort runs ~4x faster than
        # void memcmp sort (the training hot spot, ~0.15s/column)
        weights = (np.uint64(1) << (np.arange(n - 1, -1, -1,
                                              dtype=np.uint64) * 8))
        packed = win[ok].astype(np.uint64) @ weights
        uniq, cnt = np.unique(packed, return_counts=True)
        top = np.argsort(cnt)[::-1][:256]
        for i in top:
            c = int(cnt[i])
            gain = (n - 1) * c - (n + 2)  # minus table overhead
            if c >= 4 and gain > 0:
                cands.append((gain, int(uniq[i]).to_bytes(n, "big")))
    cands.sort(key=lambda t: (-t[0], t[1]))
    symbols: list[bytes] = []
    seen: set[bytes] = set()
    per_prefix: dict[bytes, int] = {}
    for _gain, s in cands:
        if len(symbols) >= len(code_pool):
            break
        if s in seen:
            continue
        # cap symbols sharing a 2-byte prefix: the encoder resolves the
        # longest match by walking a per-prefix chain, so deep chains
        # (e.g. 30 indentation variants all starting "  ") cost a
        # resolve round each; past _MAX_PER_PREFIX the marginal gain
        # never pays for the extra pass
        pfx = s[:2]
        if per_prefix.get(pfx, 0) >= _MAX_PER_PREFIX:
            continue
        per_prefix[pfx] = per_prefix.get(pfx, 0) + 1
        seen.add(s)
        symbols.append(s)
    codes = code_pool[: len(symbols)].astype(np.uint8)
    return FsstTable(escape, codes, symbols)


_MAX_SELECT_ROUNDS = 64


def _cum0(a: np.ndarray) -> np.ndarray:
    return np.concatenate(([0], np.cumsum(a)[:-1]))


class _EncodePlan:
    """Per-table matching structures, built once and cached on the
    table object (encode is called per chunk with a shared table).

    ``lut16`` maps a window's first two bytes to the head of a chain of
    symbols sharing that 2-byte prefix, longest first.  Every symbol
    that can match at a position shares the position's first two bytes,
    so one chain walk finds the LONGEST match at each position exactly.
    Symbol values/masks are little-endian so an 8-byte window gathered
    from the buffer compares with ``(win & mask) == val`` directly."""

    def __init__(self, table: FsstTable):
        k = len(table.symbols)
        self.lut16 = np.zeros(65536, dtype=np.uint8)  # sym id + 1, 0=none
        self.nxt = np.full(k + 1, -1, dtype=np.int64)
        self.lens = np.zeros(k + 1, dtype=np.int64)
        self.vals = np.zeros(k + 1, dtype=np.uint64)
        self.masks = np.zeros(k + 1, dtype=np.uint64)
        self.out_codes = np.zeros(k + 1, dtype=np.uint8)
        by_prefix: dict[int, list[int]] = {}
        for i, s in enumerate(table.symbols):
            by_prefix.setdefault((s[0] << 8) | s[1], []).append(i)
        self.max_chain = 1
        # second-pair prefilter: a chain whose symbols are ALL >=4 bytes
        # can additionally require bytes (2,3) to be some symbol's
        # second pair — candidates failing it are dropped before the
        # window gather (ge4[sym id+1]; pair set in lut16_2)
        self.ge4 = np.zeros(k + 2, dtype=bool)
        self.lut16_2 = np.zeros(65536, dtype=bool)
        for pfx, ids in by_prefix.items():
            ids.sort(key=lambda i: -len(table.symbols[i]))
            self.max_chain = max(self.max_chain, len(ids))
            self.lut16[pfx] = ids[0] + 1
            for a, b in zip(ids, ids[1:]):
                self.nxt[a] = b
            if all(len(table.symbols[i]) >= 4 for i in ids):
                self.ge4[ids[0] + 1] = True
        for i, s in enumerate(table.symbols):
            self.lens[i] = len(s)
            self.vals[i] = int.from_bytes(s, "little")
            self.masks[i] = (1 << (8 * len(s))) - 1
            self.out_codes[i] = table.codes[i]
            if len(s) >= 4:
                self.lut16_2[(s[2] << 8) | s[3]] = True
        # sentinel slot k: never matches (mask 0, val 1)
        self.vals[k] = 1
        # C-kernel views: 0-based head ids and the reserved-byte set
        self.lut16s = self.lut16.astype(np.int16) - 1
        self.reserved = np.zeros(256, dtype=np.uint8)
        self.reserved[table.escape] = 1
        self.reserved[table.codes] = 1


def _select_var(pos: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Left-to-right greedy over variable-length matches (true FSST
    scan order): returns INDICES into pos of the accepted matches.

    Greedy leftmost-wins selection by clustering: clusters
    split where a match starts at or past the previous match's end;
    each round consumes every cluster's leading constant-(gap, len) run
    in closed form (repetition blocks), peeling irregular clusters one
    greedy head per round."""
    idx = np.arange(len(pos), dtype=np.int64)
    sel_parts: list[np.ndarray] = []
    for _ in range(_MAX_SELECT_ROUNDS):
        if len(pos) < 2:
            sel_parts.append(idx)
            break
        gaps = np.diff(pos)
        seg = np.empty(len(pos), dtype=bool)
        seg[0] = True
        # a cluster boundary needs pos[i] past the end of EVERY earlier
        # match (running max) — with variable lengths a long match can
        # reach across a short neighbour's end
        np.greater_equal(pos[1:], np.maximum.accumulate(pos + lens)[:-1],
                         out=seg[1:])
        if seg.all():
            sel_parts.append(idx)  # no conflicts at all
            break
        starts = np.nonzero(seg)[0]
        ends = np.concatenate((starts[1:], [len(pos)]))
        cnt = ends - starts
        sel_parts.append(idx[starts[cnt == 1]])  # isolated: all kept
        ms, me = starts[cnt >= 2], ends[cnt >= 2]
        g = gaps[ms]
        # leading run of constant gap AND constant len
        brk = (np.diff(gaps) != 0) | (np.diff(lens[:-1]) != 0)
        chg = np.concatenate((np.nonzero(brk)[0] + 1, [len(gaps)]))
        rg = np.minimum(chg[np.searchsorted(chg, ms + 1)], me - 1)
        pcnt = rg - ms + 1
        ln = lens[ms]
        s = -(-ln // g)                # index stride = ceil(len/gap)
        mm = -(-pcnt // s)
        base = np.repeat(ms, mm)
        offs = np.arange(int(mm.sum()), dtype=np.int64) - np.repeat(
            _cum0(mm), mm)
        sel_parts.append(idx[base + np.repeat(s, mm) * offs])
        lastidx = ms + s * (mm - 1)
        ssz = me - 1 - rg
        has = ssz > 0
        if not has.any():
            break
        # the run's final pick may sit at the run boundary where len
        # changes — the greedy carry is its OWN end, pos + lens there
        rs2, sz2 = rg[has] + 1, ssz[has]
        lim = pos[lastidx[has]] + lens[lastidx[has]]
        base2 = np.repeat(rs2, sz2)
        offs2 = np.arange(int(sz2.sum()), dtype=np.int64) - np.repeat(
            _cum0(sz2), sz2)
        keep = pos[base2 + offs2] >= np.repeat(lim, sz2)
        take = (base2 + offs2)[keep]
        pos, lens, idx = pos[take], lens[take], idx[take]
    out = np.concatenate(sel_parts) if sel_parts else idx[:0]
    out.sort()
    return out


def _plan_of(table: FsstTable) -> _EncodePlan:
    plan = getattr(table, "_plan", None)
    if plan is None:
        plan = _EncodePlan(table)
        table._plan = plan
    return plan


def fsst_encode(data: np.ndarray, table: FsstTable):
    """Encode a uint8 buffer with the given table; returns a bytes-like
    buffer.

    Fast path: the ~80-line C greedy-scan kernel (codecs/native.py,
    compiled on first use, the analog of the reference's Cython
    cencoding.pyx).  Fallback: the pure-numpy single-pass matcher
    below (2-byte-prefix LUT -> strided window gather -> chain resolve
    -> left-to-right greedy claim -> two-scatter assembly).  Both
    produce BIT-IDENTICAL output (differential-tested)."""
    buf = np.ascontiguousarray(data, dtype=np.uint8)
    if len(buf) >= 2 and table.symbols:
        from fastparquet_spark.codecs.native import fsst_encode_native

        res = fsst_encode_native(buf, _plan_of(table), table.escape)
        if res is not None:
            return byte_view(res)
    # 1) escape reserved bytes: b -> (escape, b), vectorized scatter
    is_reserved = np.zeros(256, dtype=bool)
    is_reserved[table.escape] = True
    is_reserved[table.codes] = True
    esc = is_reserved[buf]
    n_esc = int(esc.sum())
    if n_esc:
        n = len(buf)
        out = np.empty(n + n_esc, dtype=np.uint8)
        shift = np.cumsum(esc) - esc  # escapes inserted before position i
        dst = np.arange(n, dtype=np.int64) + shift + esc
        out[dst] = buf
        out[dst[esc] - 1] = table.escape
        buf = out
    m = len(buf)
    if m < 2 or not table.symbols:
        return byte_view(buf)
    plan = _plan_of(table)

    # 2) one discovery pass: candidate positions via the 2-byte-prefix
    # LUT, longest matching symbol per position via the prefix chain.
    # Windows overlapping an escape pair contain a reserved byte and
    # symbols never do, so no candidate straddles an escape pair.
    b2 = buf[: m - 1].astype(np.uint16) << 8
    b2 |= buf[1:]
    head = plan.lut16[b2]
    if plan.ge4.any():
        # drop candidates of all->=4-byte chains whose bytes (2,3) are
        # no symbol's second pair — before the expensive window gather
        pair2 = plan.lut16_2[b2]
        need2 = plan.ge4[head]
        head[: m - 3][need2[: m - 3] & ~pair2[2:]] = 0
        head[m - 3:][need2[m - 3:]] = 0  # too close to the end for len>=4
    cand = np.nonzero(head)[0]
    if not len(cand):
        return byte_view(buf)
    sid = head[cand].astype(np.int64) - 1
    padded = np.concatenate((buf, np.zeros(8, dtype=np.uint8)))
    win = np.lib.stride_tricks.as_strided(
        padded, shape=(m, 8), strides=(1, 1))[cand]
    key = win.view("<u8").ravel()
    ok = (key & plan.masks[sid]) == plan.vals[sid]
    ok &= cand + plan.lens[sid] <= m  # no matches into the zero padding
    if plan.max_chain > 1:
        # walk shorter same-prefix symbols on the (compacted) failures
        fidx = np.nonzero(~ok & (plan.nxt[sid] >= 0))[0]
        for _ in range(plan.max_chain - 1):
            if not len(fidx):
                break
            s2 = plan.nxt[sid[fidx]]
            sid[fidx] = s2
            ok2 = (key[fidx] & plan.masks[s2]) == plan.vals[s2]
            ok2 &= cand[fidx] + plan.lens[s2] <= m
            ok[fidx[ok2]] = True
            fidx = fidx[~ok2 & (plan.nxt[s2] >= 0)]
    pos_all = cand[ok]
    if not len(pos_all):
        return byte_view(buf)
    sid_all = sid[ok]
    len_all = plan.lens[sid_all]

    # 3) left-to-right greedy over the (position, length) matches —
    # true FSST scan order, one pass over all lengths together
    keep = _select_var(pos_all, len_all)
    if not len(keep):
        return byte_view(buf)
    starts = pos_all[keep]
    nlen = len_all[keep]
    codes = plan.out_codes[sid_all[keep]]

    # 4) output assembly: drop matched non-start bytes, overwrite each
    # match's first byte with its code
    keep_byte = np.ones(m, dtype=bool)
    span = nlen - 1  # bytes consumed past each match's start
    body = np.repeat(starts + 1, span) + (
        np.arange(int(span.sum()), dtype=np.int64) - np.repeat(_cum0(span), span))
    keep_byte[body] = False
    rank = np.cumsum(keep_byte) - 1
    out = buf[keep_byte]
    out[rank[starts]] = codes
    return byte_view(out)


class _DecodePlan:
    """Flattened symbol table for the C decode kernel."""

    def __init__(self, table: FsstTable):
        self.code_lut = np.full(256, -1, dtype=np.int16)
        for i, c in enumerate(table.codes):
            self.code_lut[int(c)] = i
        self.sym_len = np.array([len(s) for s in table.symbols] or [0],
                                dtype=np.int64)
        self.sym_off = np.concatenate(
            ([0], np.cumsum(self.sym_len)))[:-1].astype(np.int64)
        joined = b"".join(table.symbols)
        self.sym_data = np.frombuffer(joined, dtype=np.uint8).copy() \
            if joined else np.zeros(1, dtype=np.uint8)


def _dplan_of(table: FsstTable) -> _DecodePlan:
    plan = getattr(table, "_dplan", None)
    if plan is None:
        plan = _DecodePlan(table)
        table._dplan = plan
    return plan


def fsst_decode(blob, table: FsstTable) -> np.ndarray:
    """Decode back to the original uint8 buffer — C kernel when
    available, else the fully vectorized numpy path (bit-identical)."""
    buf = np.frombuffer(blob, dtype=np.uint8) if not isinstance(blob, np.ndarray) else blob
    if len(buf):
        from fastparquet_spark.codecs.native import fsst_decode_native

        res = fsst_decode_native(np.ascontiguousarray(buf),
                                 _dplan_of(table), table.escape)
        if res is not None:
            return res
    n = len(buf)
    if n == 0:
        return np.empty(0, dtype=np.uint8)
    # identify escape markers via run parity over maximal runs of `escape`
    is_esc = buf == table.escape
    marker = np.zeros(n, dtype=bool)
    if is_esc.any():
        idx = np.nonzero(is_esc)[0]
        run_start = np.concatenate(([True], np.diff(idx) != 1))
        run_id = np.cumsum(run_start) - 1
        starts = idx[run_start]
        offset_in_run = idx - starts[run_id]
        marker[idx[offset_in_run % 2 == 0]] = True
    escaped_literal = np.zeros(n, dtype=bool)
    escaped_literal[1:] = marker[:-1]
    # token classification (markers are consumed, not tokens)
    code_lut = np.full(256, -1, dtype=np.int32)
    for i, c in enumerate(table.codes):
        code_lut[int(c)] = i
    tok_mask = ~marker
    tok_pos = np.nonzero(tok_mask)[0]
    tok_bytes = buf[tok_pos]
    tok_code = code_lut[tok_bytes]
    tok_code[escaped_literal[tok_pos]] = -1  # escaped literals stay literal
    # expansion lengths
    sym_lens = np.array([len(s) for s in table.symbols] or [0], dtype=np.int64)
    lens = np.where(tok_code >= 0, sym_lens[np.maximum(tok_code, 0)], 1)
    cum = np.concatenate(([0], np.cumsum(lens)))
    out = np.empty(int(cum[-1]), dtype=np.uint8)
    lit = tok_code < 0
    out[cum[:-1][lit]] = tok_bytes[lit]
    if (~lit).any():
        symdata = np.frombuffer(b"".join(table.symbols), dtype=np.uint8) \
            if table.symbols else np.empty(0, np.uint8)
        symoff = np.concatenate(([0], np.cumsum(sym_lens)))[:-1] if table.symbols else sym_lens
        cidx = tok_code[~lit]
        clens = sym_lens[cidx]
        total = int(clens.sum())
        within = np.arange(total, dtype=np.int64) - np.repeat(
            np.concatenate(([0], np.cumsum(clens)))[:-1], clens)
        out[np.repeat(cum[:-1][~lit], clens) + within] = symdata[
            np.repeat(symoff[cidx], clens) + within]
    return out
