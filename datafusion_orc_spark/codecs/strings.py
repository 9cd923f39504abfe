"""E5/E6/D11/D12 — string codecs.

Representation convention: a string column is (blob: bytes, lengths:
int64[n]) — the concatenation of all (non-null) values plus per-value
byte lengths (offsets = prefix sums), mirroring ORC's DATA + LENGTH
stream pair (verified on the corpus, SURVEY.md §1.4/§2.3 D11).

- Dictionary encoding uses a **sorted** symbol table (ORC DICTIONARY_V2
  semantics, §2.3 D12): ``np.unique`` returns exactly (sorted uniques,
  inverse indexes).
- FSST (Boncz/Neumann/Leis, "FSST: Fast Random Access String
  Compression", VLDB 2020) with symbols up to the paper's 8 bytes:
  code 255 escapes raw bytes; a base table of 1-2 byte symbols is
  trained first (digram matches chosen greedily left-to-right via the
  vectorized run-parity trick), then — like the paper's generational
  table construction — merge rounds concatenate the most profitable
  adjacent code pairs into longer symbols (<=8 bytes) and rewrite the
  code stream vectorized, never letting a symbol span a string
  boundary. No per-byte Python anywhere.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

ESCAPE = 255
_MAX_SYMBOLS = 255  # codes 0..254; 255 reserved for escape


def _greedy_odd_even(mask: np.ndarray) -> np.ndarray:
    """Greedy left-to-right non-overlap selection: within each maximal
    run of True positions, keep every other one starting at the run
    head. Shared by digram matching (fsst_encode) and the generation
    rewrites (_apply_pairs).

    int32 index arithmetic + a bitwise parity test: the int64
    arange/accumulate/% variant measured ~3x slower (int64 modulo is a
    division per element)."""
    n = len(mask)
    run_start = mask.copy()
    run_start[1:] &= ~mask[:-1]
    idx = np.arange(n, dtype=np.int32)
    origin = np.maximum.accumulate(np.where(run_start, idx, np.int32(-1)))
    return mask & (((idx - origin) & 1) == 0)


def column_as_arrow(blob: bytes, lengths: np.ndarray) -> pa.Array:
    """(blob, lengths) -> zero-copy large_binary Arrow array."""
    offsets = np.zeros(len(lengths) + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    return pa.LargeBinaryArray.from_buffers(
        pa.large_binary(), len(lengths), [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(blob)]
    )


def dict_encode(blob: bytes, lengths: np.ndarray) -> tuple[bytes, np.ndarray, np.ndarray]:
    """-> (sorted dictionary blob, dict entry lengths, indexes per value).

    Hash-based distinct via Arrow's C++ kernel (no per-row Python over
    values); only the k distinct entries are touched in Python when
    building the sorted symbol table.
    """
    arr = column_as_arrow(blob, lengths)
    denc = arr.dictionary_encode()
    idx = denc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    uniques = np.array(denc.dictionary.to_pylist(), dtype=object)
    perm = np.argsort(uniques)  # sorted symbol table (ORC DICTIONARY_V2)
    rank = np.empty(len(perm), dtype=np.int64)
    rank[perm] = np.arange(len(perm))
    sorted_uniques = uniques[perm].tolist()
    dict_blob = b"".join(sorted_uniques)
    dict_lengths = np.array([len(u) for u in sorted_uniques], dtype=np.int64)
    return dict_blob, dict_lengths, rank[idx]


def dict_decode(dict_blob: bytes, dict_lengths: np.ndarray, indexes: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Inverse of :func:`dict_encode` -> (blob, lengths)."""
    d_off = np.zeros(len(dict_lengths) + 1, dtype=np.int64)
    np.cumsum(dict_lengths, out=d_off[1:])
    db = np.frombuffer(dict_blob, dtype=np.uint8)
    lengths = dict_lengths[indexes]
    starts = d_off[indexes]
    # gather: for each value, copy its dictionary slice (vectorized by
    # building a flat index array)
    out_off = np.zeros(len(indexes) + 1, dtype=np.int64)
    np.cumsum(lengths, out=out_off[1:])
    total = int(out_off[-1])
    flat_idx = np.repeat(starts - out_off[:-1], lengths) + np.arange(total)
    return db[flat_idx].tobytes(), lengths


# ---------------------------------------------------------------- FSST-lite

MAX_SYMBOL_LEN = 8  # the paper's maximum symbol length


class FsstTable:
    """Symbol table: up to 255 symbols of length 1..8.

    Serialized layout: u8 n_symbols, then per symbol: u8 length +
    symbol bytes.
    """

    def __init__(self, symbols: list[bytes]):
        assert len(symbols) <= _MAX_SYMBOLS
        assert all(1 <= len(s) <= MAX_SYMBOL_LEN for s in symbols)
        self.symbols = symbols
        # decode tables
        self.out_len = np.zeros(256, dtype=np.int64)
        self.out_bytes = np.zeros((256, MAX_SYMBOL_LEN), dtype=np.uint8)
        for code, s in enumerate(symbols):
            self.out_len[code] = len(s)
            self.out_bytes[code, : len(s)] = np.frombuffer(s, dtype=np.uint8)
        # encode tables (base 1-2 byte generation only)
        self.digram_code = np.full(65536, ESCAPE, dtype=np.uint8)
        self.single_code = np.full(256, ESCAPE, dtype=np.uint8)
        for code, s in enumerate(symbols):
            if len(s) == 2:
                self.digram_code[s[0] * 256 + s[1]] = code
            elif len(s) == 1:
                self.single_code[s[0]] = code

    def serialize(self) -> bytes:
        out = bytearray([len(self.symbols)])
        for s in self.symbols:
            out.append(len(s))
            out.extend(s)
        return bytes(out)

    @classmethod
    def deserialize(cls, buf: bytes) -> "FsstTable":
        # & 0xFF: buf may be a SIGNED memoryview (pa.Buffer's is format
        # 'b'), where buf[i] >= 0x80 reads negative — a symbol count of
        # 221 became -35 and yielded an empty table (empty decode) with
        # no error. Mask restores unsigned byte semantics for any input.
        n = buf[0] & 0xFF
        pos = 1
        symbols = []
        for _ in range(n):
            ln = buf[pos] & 0xFF
            pos += 1
            symbols.append(bytes(buf[pos : pos + ln]))
            pos += ln
        return cls(symbols)


def fsst_train(blob: bytes, sample_limit: int = 1 << 16, max_symbols: int = _MAX_SYMBOLS) -> FsstTable:
    """Pick the most profitable <=255 symbols from a bounded sample.

    Digrams save 1 byte/use; single-byte symbols save 1 byte/use vs the
    escape pair they would otherwise need. Ranked jointly by savings.
    """
    b = np.frombuffer(blob[:sample_limit], dtype=np.uint8)
    if len(b) == 0:
        return FsstTable([])
    single_counts = np.bincount(b, minlength=256).astype(np.int64)
    if len(b) >= 2:
        digrams = b[:-1].astype(np.int32) * 256 + b[1:]
        digram_counts = np.bincount(digrams, minlength=65536).astype(np.int64)
    else:
        digram_counts = np.zeros(65536, dtype=np.int64)
    # candidates: all bytes that appear (gain = count, else escape costs 2x),
    # all digrams with count >= 4 (gain ~= count)
    cands: list[tuple[int, bytes]] = []
    for v in np.flatnonzero(single_counts).tolist():
        cands.append((int(single_counts[v]), bytes([v])))
    top_digrams = np.argsort(digram_counts)[::-1][:512]
    for d in top_digrams.tolist():
        c = int(digram_counts[d])
        if c >= 4:
            cands.append((c, bytes([d >> 8, d & 0xFF])))
    cands.sort(key=lambda t: (-t[0], t[1]))
    return FsstTable([s for _, s in cands[:max_symbols]])


def fsst_encode(
    blob: bytes,
    table: FsstTable,
    boundaries: np.ndarray | None = None,
    return_elements: bool = False,
):
    """Compress a blob with the trained table, vectorized.

    ``boundaries``: optional sorted positions (prefix-sum offsets) that
    digram matches must not span (string boundaries), so a later
    whole-blob decode + original-lengths split reconstructs every value.

    ``return_elements=True`` -> (bytes, elem_id int64[], starts int64[]):
    the element stream (0..254 = code, 256+b = escape literal) and each
    element's input byte offset — what _parse_elements would re-derive
    from the output, minus the re-parse pass (the trainer's hot path).
    """
    b = np.frombuffer(blob, dtype=np.uint8)
    n = len(b)
    if n == 0:
        if return_elements:
            return b"", np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
        return b""
    if n >= 2:
        digrams = b[:-1].astype(np.int32) * 256 + b[1:]
        dcode = table.digram_code[digrams]
        matchable = np.empty(n, dtype=bool)
        matchable[:-1] = dcode != ESCAPE
        matchable[-1] = False
    else:
        dcode = np.empty(0, dtype=np.uint8)
        matchable = np.zeros(n, dtype=bool)
    if boundaries is not None and len(boundaries) and n >= 2:
        # a digram starting at boundary-1 spans two strings -> forbid
        spans = boundaries[(boundaries >= 1) & (boundaries <= n - 1)] - 1
        matchable[spans] = False
    # greedy left-to-right selection of non-overlapping digram matches:
    # within each maximal run of matchable positions, take every other one
    chosen = _greedy_odd_even(matchable)
    # positions consumed as the 2nd byte of a chosen digram
    consumed = np.zeros(n, dtype=bool)
    consumed[1:] = chosen[:-1]
    scode = table.single_code[b]
    # first output byte per element-start position: a literal's single
    # code (or the ESCAPE marker when it has none — scode already holds
    # ESCAPE there), overwritten with the digram code where chosen.
    # chosen digram codes are never ESCAPE (matchable excluded them), so
    # val0==ESCAPE at a start <=> escape literal.
    val0 = scode.copy()
    ci = np.flatnonzero(chosen)  # index form: cheaper than boolean masks
    val0[ci] = dcode[ci]
    starts = np.flatnonzero(~consumed)  # element start per input position
    sb = b[starts]
    v0 = val0[starts]
    # escape literals emit 2 bytes; chosen positions can't hit this:
    # their val0 is a digram code and matchable excluded ESCAPE codes
    esc = v0 == ESCAPE
    ei = np.flatnonzero(esc)
    # element order IS output order and widths are 1 or 2: the stream is
    # v0 with each escape's payload byte spliced in right after its
    # marker — one np.insert when escapes are sparse (the common shape;
    # a trained table covers the hot bytes), else one boolean-mask
    # extraction over a 2-wide staging matrix. Either way no
    # width/cumsum/opos and no full-width fancy-index scatters
    # (latency-bound on this box; see memory notes r3/r5).
    n_el = len(starts)
    if len(ei) * 8 <= n_el:
        out = np.insert(v0, ei + 1, sb[ei])
    else:
        stage = np.empty((n_el, 2), dtype=np.uint8)
        stage[:, 0] = v0
        stage[:, 1] = sb
        emit = np.empty((n_el, 2), dtype=bool)
        emit[:, 0] = True
        emit[:, 1] = esc
        out = stage[emit]
    if not return_elements:
        return out.tobytes()
    elem_id = v0.astype(np.int64)
    elem_id[ei] = 256 + sb[ei].astype(np.int64)
    return out.tobytes(), elem_id, starts.astype(np.int64)


def fsst_decode(data: bytes, table: FsstTable) -> bytes:
    """Vectorized decode: classify each byte as code vs escape-payload via
    the run-parity trick over runs of ESCAPE bytes, then expand."""
    c = np.frombuffer(data, dtype=np.uint8)
    n = len(c)
    if n == 0:
        return b""
    is_esc_byte = c == ESCAPE
    # Determine real escape markers: scanning left to right, an ESCAPE
    # byte is a marker unless it is the payload of the previous marker.
    # Within each maximal run of bytes "still in escape context", markers
    # sit at even offsets. Escape context = runs formed by: ESCAPE bytes
    # plus the single byte following each marker. Equivalent simple rule:
    # within each maximal run of consecutive ESCAPE bytes, even offsets
    # are markers; a marker's payload is the next byte (ESCAPE or not).
    run_start = is_esc_byte & ~np.concatenate(([False], is_esc_byte[:-1]))
    pos_in_run = np.arange(n) - np.maximum.accumulate(np.where(run_start, np.arange(n), -1))
    marker = is_esc_byte & (pos_in_run % 2 == 0)
    payload = np.zeros(n, dtype=bool)
    payload[1:] = marker[:-1]
    code_pos = ~marker & ~payload  # plain symbol codes
    out_w = np.zeros(n, dtype=np.int64)
    out_w[code_pos] = table.out_len[c[code_pos]]
    out_w[payload] = 1
    total = int(out_w.sum())
    opos = np.zeros(n, dtype=np.int64)
    np.cumsum(out_w[:-1], out=opos[1:])
    out = np.empty(total, dtype=np.uint8)
    cp = np.flatnonzero(code_pos)
    # expand per symbol length (<= MAX_SYMBOL_LEN vectorized scatters)
    for w in range(1, MAX_SYMBOL_LEN + 1):
        ww = cp[out_w[cp] >= w]
        if len(ww):
            out[opos[ww] + (w - 1)] = table.out_bytes[c[ww], w - 1]
    pp = np.flatnonzero(payload)
    out[opos[pp]] = c[pp]
    return out.tobytes()


def _parse_elements(data: bytes) -> tuple[np.ndarray, np.ndarray]:
    """Encoded byte stream -> element arrays.

    Element id space: 0..254 = symbol code, 256+b = escape literal b.
    Returns (elem_id int64[], positions-in-stream not needed afterwards).
    """
    c = np.frombuffer(data, dtype=np.uint8)
    n = len(c)
    if n == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    is_esc = c == ESCAPE
    run_start = is_esc & ~np.concatenate(([False], is_esc[:-1]))
    pos_in_run = np.arange(n) - np.maximum.accumulate(np.where(run_start, np.arange(n), -1))
    marker = is_esc & (pos_in_run % 2 == 0)
    payload = np.zeros(n, dtype=bool)
    payload[1:] = marker[:-1]
    code_pos = ~marker & ~payload
    elem_id = np.empty(int(code_pos.sum()) + int(marker.sum()), dtype=np.int64)
    starts = np.flatnonzero(code_pos | marker)
    ids = np.where(marker[starts], 256 + c[np.minimum(starts + 1, n - 1)].astype(np.int64), c[starts].astype(np.int64))
    elem_id[:] = ids
    return elem_id, starts


def _apply_pairs(
    elem_id: np.ndarray,
    elem_len: np.ndarray,
    string_id: np.ndarray,
    pair_code: np.ndarray,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One generation REWRITE: greedy non-overlapping replacement of the
    adjacent element pairs whose key maps to a code in ``pair_code``
    (512*512 -> new code or -1), under _merge_rounds' selection rules
    (same-string, combined length <= 8, run-parity non-overlap)."""
    if len(elem_id) < 2:
        return elem_id, elem_len, string_id
    key = elem_id[:-1] * 512 + elem_id[1:]
    valid = (string_id[:-1] == string_id[1:]) & (
        elem_len[:-1] + elem_len[1:] <= MAX_SYMBOL_LEN
    )
    m = np.zeros(len(elem_id), dtype=bool)
    m[:-1] = valid & (pair_code[key] >= 0)
    sel = _greedy_odd_even(m)
    consumed = np.zeros(len(m), dtype=bool)
    consumed[1:] = sel[:-1]
    keep = ~consumed
    new_id = elem_id.copy()
    idx = np.flatnonzero(sel)
    new_id[idx] = pair_code[key[idx]]
    new_len = elem_len.copy()
    new_len[idx] = elem_len[idx] + elem_len[idx + 1]
    return new_id[keep], new_len[keep], string_id[keep]


def _merge_rounds(
    elem_id: np.ndarray,
    table: FsstTable,
    string_id: np.ndarray,
    rounds: int = 3,
    min_count: int = 8,
    sample_elems: int | None = 1 << 18,
) -> tuple[np.ndarray, FsstTable]:
    """FSST generational construction: per round, concatenate the most
    profitable adjacent element pairs into new symbols (<=8 bytes) and
    rewrite the element stream vectorized (run-parity non-overlap).

    ``string_id``: per element, the source string it belongs to — a
    merged symbol never spans two values (random access per value).

    ``sample_elems``: pair SELECTION (the per-round 512x512 bincount +
    gain ranking) runs over ~this many elements taken as 16 evenly
    spaced contiguous windows, with counts scaled back to stream size —
    at 100 TB every stripe trains, and counting the full stream per
    generation was ~30% of train cost. The REWRITE still covers the
    full stream (its output IS the encoding). None = select on the full
    stream (the measurement baseline).

    Returns (final elements, final table)."""
    symbols = list(table.symbols)

    def expansion(eid: int) -> bytes:
        return symbols[eid] if eid < 256 else bytes([eid - 256])

    elem_len = np.where(
        elem_id < 256,
        table.out_len[np.minimum(elem_id, 255)],
        1,
    ).astype(np.int64)

    for _ in range(rounds):
        free = _MAX_SYMBOLS - len(symbols)
        if free <= 0 or len(elem_id) < 2:
            break
        a, b = elem_id[:-1], elem_id[1:]
        valid = (string_id[:-1] == string_id[1:]) & (elem_len[:-1] + elem_len[1:] <= MAX_SYMBOL_LEN)
        key = a * 512 + b
        n_pairs = len(key)
        if sample_elems is not None and n_pairs > sample_elems:
            k_win = 16
            w = sample_elems // k_win
            starts = np.linspace(0, n_pairs - w, k_win).astype(np.int64)
            sel_idx = (starts[:, None] + np.arange(w)).ravel()
            counts = np.bincount(key[sel_idx][valid[sel_idx]], minlength=512 * 512)
            scale = n_pairs / len(sel_idx)
        else:
            counts = np.bincount(key[valid], minlength=512 * 512)
            scale = 1.0
        # profitability must beat the table overhead (1 len byte + bytes)
        cand_keys = np.flatnonzero(counts >= max(1, int(min_count / scale)))
        if not len(cand_keys):
            break
        if len(cand_keys) > 512:
            # only 64 merges are taken per round: rank the top-512 by
            # count, keep the Python gain loop bounded (a sampled
            # threshold of 1 otherwise admits every pair seen once)
            top = np.argsort(counts[cand_keys])[::-1][:512]
            cand_keys = cand_keys[np.sort(top)]
        gains = []
        for k in cand_keys.tolist():
            ka, kb = k >> 9, k & 511
            sym = expansion(ka) + expansion(kb)
            per = (1 if ka < 256 else 2) + (1 if kb < 256 else 2) - 1
            g = int(counts[k] * scale) * per - (1 + len(sym))
            if g > 0:
                gains.append((g, k, sym))
        if not gains:
            break
        gains.sort(key=lambda t: (-t[0], t[1]))
        chosen = gains[: min(free, 64)]
        # marginal-gain cap: a generation must be worth its rewrite pass.
        # Stream cost ~= len(elem_id) bytes + escapes; skip the round (and
        # the ones after — gains only shrink) when the chosen merges save
        # <0.2% of it.
        if sum(g for g, _k, _s in chosen) < 0.002 * len(elem_id):
            break
        pair_code = np.full(512 * 512, -1, dtype=np.int64)
        for _g, k, sym in chosen:
            pair_code[k] = len(symbols)
            symbols.append(sym)
        elem_id, elem_len, string_id = _apply_pairs(elem_id, elem_len, string_id, pair_code)
    return elem_id, FsstTable(symbols)


def _emit_elements(elem_id: np.ndarray) -> bytes:
    """Element ids -> encoded byte stream (code byte | ESCAPE + literal)."""
    n = len(elem_id)
    if n == 0:
        return b""
    is_code = elem_id < 256
    width = np.where(is_code, 1, 2)
    opos = np.zeros(n, dtype=np.int64)
    np.cumsum(width[:-1], out=opos[1:])
    out = np.empty(int(width.sum()), dtype=np.uint8)
    out[opos[is_code]] = elem_id[is_code]
    e = np.flatnonzero(~is_code)
    out[opos[e]] = ESCAPE
    out[opos[e] + 1] = (elem_id[e] - 256).astype(np.uint8)
    return out.tobytes()


def fsst_compress_column(blob: bytes, lengths: np.ndarray) -> tuple[bytes, bytes] | None:
    """Train + compress a string column (full FSST: base 1-2 byte table,
    then merge rounds growing symbols to <=8 bytes). Returns
    (table_bytes, data) or None when unprofitable (<5% savings),
    mirroring E6's fallback.

    Every call trains its own table from ``blob`` alone, so a stripe's
    encoded bytes depend on that stripe only (the table is stored in the
    blob for decode)."""
    base = fsst_train(blob, max_symbols=128)  # leave room for merged symbols
    offsets = np.zeros(len(lengths) + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    # elements come straight out of the encoder (no re-parse of the byte
    # stream), and their input offsets locate each element's source
    # string — elements never span values (boundaries forbid it)
    _data, elem_id, src_start = fsst_encode(
        blob, base, boundaries=offsets[1:-1], return_elements=True
    )
    string_id = np.searchsorted(offsets[1:], src_start, side="right")
    elem_id, table = _merge_rounds(elem_id, base, string_id)
    data = _emit_elements(elem_id)
    tbl = table.serialize()
    if len(data) + len(tbl) > 0.95 * max(1, len(blob)):
        return None
    return tbl, data


def fsst_decompress_column(table_bytes: bytes, data: bytes, lengths: np.ndarray) -> tuple[bytes, np.ndarray]:
    table = FsstTable.deserialize(table_bytes)
    return fsst_decode(data, table), lengths
