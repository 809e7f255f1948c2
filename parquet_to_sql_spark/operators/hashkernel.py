"""Vectorized Arrow twins of the char-fold hashing pipeline.

The engine's cross-engine string hash (functions.hashing.char_fold_hash
— a 31-ary polynomial fold over Unicode codepoints mod 2^31-1) and its
derived relations (token hashes, shingle hashes, simhash sketches) were
originally built as JVM higher-order-function expression trees
(transform/aggregate lambdas).  HOF lambdas are evaluated interpreted
(they are not whole-stage-codegen'd), and profiling the optimization
round's stage metrics showed the fold dominating every hashed-dedup
headline query: the k=128 minhash signature stage alone burned ~54 s of
executor runtime at sf0.1 on a ~1.5 MB corpus.

These kernels compute the IDENTICAL values inside ``mapInArrow``:
Arrow batches in, NumPy vectorized fold (one pass per character
position, so ~max-word-length vector ops per batch), Arrow batches
out (guide §4.2 — hand whole batches to vectorized native code;
§4.5 — setup once per task; §4.1 — pass only the needed columns).
No shuffle, no scan, no cardinality change: plan shape is a single
MapInArrow node where a Project used to be.

Value-exactness contracts (each pinned by tests/test_hashkernel.py
over the full sf0.1 corpus AND adversarial edge strings):

  * tokenization == ``F.split(F.trim(text), r"\\s+")``: trim strips
    U+0020 only; the split regex is JAVA ``\\s`` = [ \\t\\n\\x0B\\f\\r]
    (NOT Python's unicode-aware \\s); leading/trailing empty tokens are
    kept exactly as Java limit=-1 split does (Python re.split matches
    this); NULL text yields a NULL array.
  * word hash == ``char_fold_hash(word)``: fold over CODEPOINTS
    (Python str iteration == Spark split('')+ascii on all non-degenerate
    text, surrogate pairs included); empty word hashes to 0.
  * string-fold n-gram hash == ``char_fold_hash(w_i || ' ' || ... )``
    WITHOUT materializing the shingle string, via the linearity of the
    fold: h(s || t) = (h(s) * 31^len(t) + h(t)) mod M, so each shingle
    combines staged per-word hashes and 31^len powers — the per-char
    work happens once per word instead of once per shingle occurrence.
  * hashed-fold n-gram == ``shingle_hashes_from(word_hashes(...))``:
    the window fold h = (h*31 + hw_i) mod M over word hashes.
  * simhash == ``simhash_from_hashes(transform(tokens, char_fold_hash))``:
    per-bit majority (strictly more ones than zeros) over token hashes.

Every kernel rebalances its narrow (id, text) input first
(operators.text.rebalance_for_compute) so few-row-group fixtures use
every core — the same discipline as the JVM formulations they replace.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

from pyspark.sql import DataFrame

FOLD_MOD = 2_147_483_647  # 2^31 - 1 (functions.hashing.FOLD_MOD)

# Java \s — explicitly NOT Python \s (which also matches U+00A0 etc.)
_JAVA_WS = re.compile("[ \t\n\x0b\x0c\r]+")


def _tokenize(texts) -> list[list[str] | None]:
    """ws_tokens twin: trim(U+0020 only) then Java-\\s+ split with
    limit=-1 semantics (leading/trailing empties kept; '' -> [''])."""
    out: list[list[str] | None] = []
    split = _JAVA_WS.split
    for t in texts:
        out.append(None if t is None else split(t.strip(" ")))
    return out


def _fold_flat(words: list[str]):
    """char_fold_hash of every word, vectorized: one int64 hash array
    and one int64 codepoint-length array, aligned with ``words``."""
    import numpy as np

    n = len(words)
    lens = np.fromiter(map(len, words), np.int64, n) if n else np.zeros(0, np.int64)
    if n == 0 or int(lens.sum()) == 0:
        return np.zeros(n, np.int64), lens
    cp = np.frombuffer("".join(words).encode("utf-32-le"), np.uint32).astype(np.int64)
    starts = np.zeros(n, np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    acc = np.zeros(n, np.int64)
    for p in range(int(lens.max())):
        m = lens > p
        # acc < 2^31 and cp < 2^31 -> acc*31 + cp < 2^36: int64-safe
        acc[m] = (acc[m] * 31 + cp[starts[m] + p]) % FOLD_MOD
    return acc, lens


def _doc_layout(toks: list[list[str] | None]):
    """Flatten per-doc token lists: (flat word list, per-doc word
    counts with 0 for NULL docs, null mask)."""
    import numpy as np

    flat: list[str] = []
    counts = np.zeros(len(toks), np.int64)
    nulls = np.zeros(len(toks), bool)
    for i, tk in enumerate(toks):
        if tk is None:
            nulls[i] = True
        else:
            counts[i] = len(tk)
            flat.extend(tk)
    return flat, counts, nulls


def _list_array(values, counts, nulls):
    """Arrow list<int64> column from flat values + per-doc counts,
    with NULL entries where ``nulls`` is set."""
    import numpy as np
    import pyarrow as pa

    offs = np.zeros(len(counts) + 1, np.int64)
    np.cumsum(counts, out=offs[1:])
    off32 = pa.array(offs.astype("int32"))
    vals = pa.array(values, pa.int64())
    if nulls.any():
        # a NULL doc contributed 0 values, so its slice is empty and
        # the offsets stay monotonic; the mask marks it NULL
        return pa.ListArray.from_arrays(off32, vals, mask=pa.array(nulls))
    return pa.ListArray.from_arrays(off32, vals)


def _window_starts(counts, n: int):
    """Flat start index (into the flat word arrays) of every length-n
    window of every doc, plus per-doc window counts."""
    import numpy as np

    wc = np.maximum(counts - (n - 1), 0)
    total = int(wc.sum())
    if total == 0:
        return np.zeros(0, np.int64), wc
    doc_starts = np.zeros(len(counts), np.int64)
    np.cumsum(counts[:-1], out=doc_starts[1:])
    w_offs = np.zeros(len(wc), np.int64)
    np.cumsum(wc[:-1], out=w_offs[1:])
    idx = np.arange(total, dtype=np.int64)
    return np.repeat(doc_starts - w_offs, wc) + idx, wc


def _mapper(df: DataFrame, id_col: str, text_col: str, out_field: str,
            batch_fn, out_type: str = "array<bigint>") -> DataFrame:
    """Common harness: rebalance the narrow input, run ``batch_fn``
    (texts -> (flat values, counts, nulls) or scalar columns) in
    mapInArrow, return (id, out_field)."""
    from parquet_to_sql_spark.operators.text import rebalance_for_compute

    src = rebalance_for_compute(df.select(id_col, text_col))
    id_type = dict(df.dtypes)[id_col]

    def run(batches: Iterator) -> Iterator:
        import pyarrow as pa

        for rb in batches:
            ids = rb.column(0)
            texts = rb.column(1).to_pylist()
            yield pa.record_batch([ids, batch_fn(texts)], names=[id_col, out_field])

    return src.mapInArrow(run, f"{id_col} {id_type}, {out_field} {out_type}")


def _stringfold_windows(hw, lens, starts, n: int):
    """String-fold hash of every length-n window given staged per-word
    hashes/codepoint-lengths and flat window start indices.  The concat
    rule h(s||t) = (h(s)*31^len(t) + h(t)) mod M combines staged
    per-word hashes — per-character work once per word."""
    import numpy as np

    if len(starts) == 0:
        return np.zeros(0, np.int64)
    maxlen = int(lens.max()) if len(lens) else 0
    pow31 = np.ones(maxlen + 1, np.int64)
    for i in range(1, maxlen + 1):
        pow31[i] = (pow31[i - 1] * 31) % FOLD_MOD
    h = hw[starts]
    for off in range(1, n):
        h = (h * 31 + 32) % FOLD_MOD  # the joining space (codepoint 32)
        idx = starts + off
        # h < 2^31, pow31 < 2^31 -> product < 2^62: int64-safe
        h = (h * pow31[lens[idx]] + hw[idx]) % FOLD_MOD
    return h


def _hashedfold_windows(hw, starts, n: int):
    """Hashed-window fold h = (h*31 + hw_i) mod M of every length-n
    window given staged per-word hashes and flat window starts."""
    import numpy as np

    if len(starts) == 0:
        return np.zeros(0, np.int64)
    h = hw[starts]
    for off in range(1, n):
        h = (h * 31 + hw[starts + off]) % FOLD_MOD
    return h


def _stringfold_flat(flat, counts, n: int):
    """Flat string-fold n-gram window hashes over a flattened word
    layout: returns (flat window-hash array, per-doc window counts)."""
    hw, lens = _fold_flat(flat)
    starts, wc = _window_starts(counts, n)
    return _stringfold_windows(hw, lens, starts, n), wc


def stringfold_kgram_hashes(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, shs array<long>) — the POSITIONAL (non-distinct) string-fold
    n-gram shingle hashes: value-exact twin of
    ``transform(positional_shingles(ws_tokens(text), n), char_fold_hash)``.

    Consumers needing set semantics for a MIN (minhash) can use this
    directly — min over the multiset equals min over the distinct set;
    consumers needing the distinct ARRAY apply F.array_distinct on top
    (identical first-occurrence order to the JVM formulation, because
    hash equality == string equality is not assumed anywhere downstream
    of a distinct-by-VALUE on the hashes themselves)."""

    def batch(texts):
        flat, counts, nulls = _doc_layout(_tokenize(texts))
        # positional_shingles' when(size>=n)/otherwise([]) guard maps
        # NULL text to an EMPTY array (size(NULL) = -1), not NULL
        nulls[:] = False
        h, wc = _stringfold_flat(flat, counts, n)
        return _list_array(h, wc, nulls)

    return _mapper(df, id_col, text_col, "shs", batch)


def hashedfold_kgram_hashes(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, shs array<long>) — the HASHED-window positional n-gram
    hashes: value-exact twin of
    ``shingle_hashes_from(word_hashes(ws_tokens(text)), n)`` (the
    no-space window fold over per-word hashes)."""

    def batch(texts):
        flat, counts, nulls = _doc_layout(_tokenize(texts))
        # shingle_hashes_from's when(size>=n)/otherwise([]) guard maps
        # NULL text to an EMPTY array (size(NULL) = -1), not NULL
        nulls[:] = False
        hw, _ = _fold_flat(flat)
        starts, wc = _window_starts(counts, n)
        return _list_array(_hashedfold_windows(hw, starts, n), wc, nulls)

    return _mapper(df, id_col, text_col, "shs", batch)


def sig_and_shingle_arrays(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, k: int = 8
) -> DataFrame:
    """(id, sig array<bigint>, shs array<bigint>) in ONE Arrow pass —
    the two hash relations minhash_dedup_apply needs per document
    (optimization r14; they were two separate kernel materializations
    over the same tokenization):

      sig = the k-permutation MinHash signature over the STRING-FOLD
            positional n-gram hashes — value-exact twin of
            minhash_signatures' m0..m{k-1} columns, as one length-k
            array; EMPTY array when the doc has no shingles (the row
            the JVM explode+groupBy formulation never produces —
            consumers must filter size == k, which
            minhash_lsh_candidates_from_sig_arrays enforces).
      shs = the HASHED-window positional n-gram hashes
            (hashedfold_kgram_hashes twin); the exact-verify stage
            applies array_distinct on top.

    One tokenize + one per-word char fold feed both hash families, so
    the corpus is scanned and tokenized ONCE for signature generation
    and verification instead of twice."""
    from parquet_to_sql_spark.functions.hashing import minhash_constants
    from parquet_to_sql_spark.operators.text import rebalance_for_compute

    pairs = minhash_constants(k)
    src = rebalance_for_compute(df.select(id_col, text_col))
    id_type = dict(df.dtypes)[id_col]

    def run(batches: Iterator) -> Iterator:
        import numpy as np
        import pyarrow as pa

        for rb in batches:
            ids_arr = rb.column(0)
            texts = rb.column(1).to_pylist()
            flat, counts, nulls = _doc_layout(_tokenize(texts))
            nulls[:] = False  # NULL text -> empty arrays, like both twins
            hw, lens = _fold_flat(flat)
            starts, wc = _window_starts(counts, n)
            h_sf = _stringfold_windows(hw, lens, starts, n)
            sig, nz = _minhash_from_windows(h_sf, wc, pairs)
            cols = [
                ids_arr,
                _list_array(sig[nz].ravel(), np.where(nz, k, 0), nulls),
                _list_array(_hashedfold_windows(hw, starts, n), wc, nulls),
            ]
            yield pa.record_batch(cols, names=[id_col, "sig", "shs"])

    return src.mapInArrow(
        run, f"{id_col} {id_type}, sig array<bigint>, shs array<bigint>"
    )


def word_hash_arrays(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, hw array<long>) — value-exact twin of the staged
    ``word_hashes(ws_tokens(text))`` column."""

    def batch(texts):
        toks = _tokenize(texts)
        flat, counts, nulls = _doc_layout(toks)
        hw, _ = _fold_flat(flat)
        return _list_array(hw, counts, nulls)

    return _mapper(df, id_col, text_col, "hw", batch)


def simhash_arrow(
    df: DataFrame, id_col: str, text_col: str, bits: int = 16
) -> DataFrame:
    """(id, simhash long) — value-exact twin of
    operators.text.simhash_sketch: per-bit strict majority of the low
    ``bits`` bits over the token-hash multiset, token-less (NULL-text)
    docs dropped (ws_tokens never yields an empty array for non-null
    text — blank text tokenizes to [''], hash 0 — so the only dropped
    rows are NULL texts, same as the JVM formulation's size>0 filter)."""
    if not 1 <= bits <= 31:
        raise ValueError("bits must be in 1..31 (token hash is 31-bit)")

    from pyspark.sql import functions as F

    def batch(texts):
        import numpy as np
        import pyarrow as pa

        toks = _tokenize(texts)
        flat, counts, nulls = _doc_layout(toks)
        hw, _ = _fold_flat(flat)
        doc_id_per_tok = np.repeat(np.arange(len(counts)), counts)
        sim = np.zeros(len(counts), np.int64)
        for b in range(bits):
            ones = np.zeros(len(counts), np.int64)
            np.add.at(ones, doc_id_per_tok, (hw >> b) & 1)
            sim |= ((ones * 2 > counts).astype(np.int64)) << b
        return pa.array(
            [None if nulls[i] else int(sim[i]) for i in range(len(counts))],
            pa.int64(),
        )

    out = _mapper(df, id_col, text_col, "simhash", batch, out_type="bigint")
    return out.filter(F.col("simhash").isNotNull())


def _minhash_from_windows(h, wc, pairs):
    """(n_docs, k) int64 minhash signature matrix from flat window
    hashes ``h`` and per-doc window counts ``wc``: per doc,
    min over windows of (a*x + b) mod M for each (a, b).  Rows with
    wc == 0 are left zero — the caller masks them (the JVM groupBy
    formulation simply has no row for such docs).  a < 4000 and
    x < 2^31 so a*x + b < 2^43: int64-safe (same bound as the JVM)."""
    import numpy as np

    nd = len(wc)
    k = len(pairs)
    sig = np.zeros((nd, k), np.int64)
    nz = wc > 0
    if not nz.any():
        return sig, nz
    offs = np.zeros(nd, np.int64)
    np.cumsum(wc[:-1], out=offs[1:])
    # reduceat over the starts of NONZERO docs only: zero-width docs
    # contribute no elements, so consecutive nonzero starts delimit
    # exactly each doc's window span
    starts_nz = offs[nz]
    for i, (a, b) in enumerate(pairs):
        v = (h * a + b) % FOLD_MOD
        sig[nz, i] = np.minimum.reduceat(v, starts_nz)
    return sig, nz


def _winnow_selected(h, wc, w: int):
    """Winnowing selection over a flat window-hash layout: for each
    doc (``wc`` window hashes in ``h``), slide a window of ``w``
    consecutive hashes (ONE window over all of them when wc < w) and
    select each window's minimum, RIGHTMOST position on ties, then
    drop duplicate selections (selections are non-decreasing, so
    consecutive-dedup == distinct).  Returns (flat 0-based positions,
    flat fingerprints, per-doc selection counts)."""
    import numpy as np

    nd = len(wc)
    out_counts = np.zeros(nd, np.int64)
    if len(h) == 0:
        return np.zeros(0, np.int64), np.zeros(0, np.int64), out_counts
    # combined key: min h, rightmost pos on ties -> single int64 min.
    # S > max windows per doc; h < 2^31 so h*S stays < 2^63 for any
    # realistic doc (S up to 2^32 would still fit h < 2^31).
    S = 1 << int(np.max(wc)).bit_length()
    doc_start = np.zeros(nd, np.int64)
    np.cumsum(wc[:-1], out=doc_start[1:])
    pos_in_doc = np.arange(len(h), dtype=np.int64) - np.repeat(doc_start, wc)
    c = h * S + (S - 1 - pos_in_doc)
    # regular docs (wc >= w): all length-w windows
    starts, mw_reg = _window_starts(wc, w)
    if len(starts):
        cmin_reg = c[starts]
        for off in range(1, w):
            np.minimum(cmin_reg, c[starts + off], out=cmin_reg)
    else:
        cmin_reg = np.zeros(0, np.int64)
    # short docs (1 <= wc < w): one window over the whole doc.  Segment
    # at EVERY non-empty doc's start (empty docs own no elements, so
    # consecutive starts delimit exactly one doc each), then pick the
    # short ones: segmenting at short starts only would run a short
    # doc's segment on through any longer doc that follows it.
    short = (wc >= 1) & (wc < w)
    if short.any():
        nonempty = wc >= 1
        cmin_short = np.minimum.reduceat(c, doc_start[nonempty])[short[nonempty]]
    # number of winnow windows per doc
    mw = np.where(short, 1, mw_reg)
    # interleave: windows are laid out doc by doc; regular docs take
    # their mw_reg mins, short docs their single min
    total_w = int(mw.sum())
    cmin = np.zeros(total_w, np.int64)
    w_off = np.zeros(nd, np.int64)
    np.cumsum(mw[:-1], out=w_off[1:])
    if len(starts):
        reg = ~short & (wc >= 1)
        reg_idx_mask = np.repeat(reg, mw)
        cmin[reg_idx_mask] = cmin_reg
    if short.any():
        cmin[w_off[short]] = cmin_short
    sel_pos = S - 1 - (cmin & (S - 1))
    fp = cmin >> int(np.log2(S))
    # dedup consecutive selections within each doc
    first_of_doc = np.zeros(total_w, bool)
    first_of_doc[w_off[mw > 0]] = True
    keep = first_of_doc.copy()
    keep[1:] |= sel_pos[1:] != sel_pos[:-1]
    keep[0] = total_w > 0
    # rows crossing doc boundaries must not suppress: first_of_doc
    # already forces True there
    keep |= first_of_doc
    doc_of_window = np.repeat(np.arange(nd), mw)
    np.add.at(out_counts, doc_of_window[keep], 1)
    return sel_pos[keep], fp[keep], out_counts


def winnow_kgram_fingerprints(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, w: int = 4
) -> DataFrame:
    """(id, pos int, fp long) — value-exact twin of
    operators.text.winnow_fingerprints (winnowing over string-fold
    positional k-gram hashes; pos is the 1-BASED selected shingle
    position).  Docs with no shingles emit nothing."""

    def run_rows(ids_arr, texts):
        import numpy as np
        import pyarrow as pa

        toks = _tokenize(texts)
        otoks = [tk if tk is not None else [] for tk in toks]
        flat, counts, _ = _doc_layout(otoks)
        h, wc = _stringfold_flat(flat, counts, k)
        sel, fp, cnt = _winnow_selected(h, wc, w)
        idx = np.repeat(np.arange(len(cnt)), cnt)
        return (
            ids_arr.take(pa.array(idx)),
            pa.array((sel + 1).astype(np.int32), pa.int32()),
            pa.array(fp, pa.int64()),
        )

    from parquet_to_sql_spark.operators.text import rebalance_for_compute

    src = rebalance_for_compute(df.select(id_col, text_col))
    id_type = dict(df.dtypes)[id_col]

    def run(batches: Iterator) -> Iterator:
        import pyarrow as pa

        for rb in batches:
            ids, pos, fp = run_rows(rb.column(0), rb.column(1).to_pylist())
            yield pa.record_batch([ids, pos, fp], names=[id_col, "pos", "fp"])

    return src.mapInArrow(run, f"{id_col} {id_type}, pos int, fp bigint")


def winnow_kgram_fp_sets(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, w: int = 4
) -> DataFrame:
    """(id, fps array<long>) — value-exact twin of
    operators.text.winnow_fingerprint_sets: DISTINCT selected
    fingerprint VALUES in first-occurrence order; empty array for
    docs with no shingles (including NULL text)."""

    def batch(texts):
        import numpy as np

        toks = _tokenize(texts)
        otoks = [tk if tk is not None else [] for tk in toks]
        flat, counts, nulls = _doc_layout(otoks)
        nulls[:] = False
        h, wc = _stringfold_flat(flat, counts, k)
        sel, fp, cnt = _winnow_selected(h, wc, w)
        # per-doc first-occurrence dedup of fp VALUES
        vals: list[int] = []
        out_counts = np.zeros(len(cnt), np.int64)
        off = 0
        for d, c in enumerate(cnt):
            if c:
                seen: dict = {}
                for x in fp[off : off + c]:
                    if x not in seen:
                        seen[x] = None
                vals.extend(seen)
                out_counts[d] = len(seen)
                off += c
        return _list_array(np.array(vals, np.int64), out_counts, nulls)

    return _mapper(df, id_col, text_col, "fps", batch)


def audit_mutant_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    marker: str = "zqz",
    k: int | None = None,
) -> DataFrame:
    """ONE Arrow pass computing everything the production-parameter
    minhash audit (dedup_minhash_production_audit) needs per document:

      (id,
       shs_o array<long>,  -- positional string-fold n-gram hashes of text
       shs_m array<long>,  -- same for the MUTANT text
       common long,        -- |distinct-shingles(text) ∩ distinct-shingles(mutant)|
       n1 long, n2 long)   -- the two distinct-shingle set sizes

    The mutant rule is the audit's: every token at 1-based position i
    with i % p == 0 replaced by ``marker``, p = 3 * 2^(id % 5); the
    mutant token list is JOINED with single spaces and RE-TOKENIZED
    (exactly ws_tokens(array_join(...))), so degenerate whitespace in
    the source reproduces the JVM formulation bit-for-bit.

    Value-exact twins (pinned by tests/test_hashkernel.py):
      shs_o == transform(positional_shingles(ws_tokens(text), n), char_fold_hash)
      shs_m == same over array_join(mutant_tokens, ' ')
      common/n1/n2 == size(array_intersect/…) over word_shingles of both
    NULL text behaves like the JVM chain under ANSI (all sizes NULL →
    the audit's size>0 filter drops the doc): here it yields empty
    arrays and zero counts, which the same filter drops.

    With ``k`` set, additionally emits the k-permutation MinHash
    signatures of both sides as length-k arrays
    (sig_o/sig_m array<long> — min over shingle-hash windows of
    (a*x+b) mod M for the same minhash_constants(k) pairs; EMPTY
    array when the doc has no shingles, mirroring the row the JVM
    explode+groupBy formulation never produces), so the audit's
    banding join consumes signatures straight from the one kernel
    pass: no explode, no 128-aggregate groupBy, no second eager
    localCheckpoint.

    Replaces (optimization r13): the interpreted per-token mutant
    transform evaluated TWICE, two interpreted word_shingles passes,
    one join (originals×mutants becomes same-row columns) and two of
    three eager localCheckpoints in the audit query."""
    from parquet_to_sql_spark.functions.hashing import minhash_constants
    from parquet_to_sql_spark.operators.text import rebalance_for_compute

    pairs = minhash_constants(k) if k else None
    src = rebalance_for_compute(df.select(id_col, text_col))
    id_type = dict(df.dtypes)[id_col]

    def run(batches: Iterator) -> Iterator:
        import numpy as np
        import pyarrow as pa

        for rb in batches:
            ids_arr = rb.column(0)
            ids = ids_arr.to_pylist()
            texts = rb.column(1).to_pylist()
            toks = _tokenize(texts)
            mtoks: list[list[str]] = []
            common = np.zeros(len(ids), np.int64)
            n1 = np.zeros(len(ids), np.int64)
            n2 = np.zeros(len(ids), np.int64)
            for j, (did, tk) in enumerate(zip(ids, toks)):
                if tk is None:
                    mtoks.append([])
                    continue
                p = 3 << (int(did) % 5)
                mt = [
                    marker if (i + 1) % p == 0 else w for i, w in enumerate(tk)
                ]
                # exactly ws_tokens(array_join(mt, ' ')): join then re-split
                mt = _JAVA_WS.split(" ".join(mt).strip(" "))
                mtoks.append(mt)
                so = {
                    " ".join(tk[i : i + n]) for i in range(len(tk) - n + 1)
                }
                sm = {
                    " ".join(mt[i : i + n]) for i in range(len(mt) - n + 1)
                }
                common[j] = len(so & sm)
                n1[j] = len(so)
                n2[j] = len(sm)
            otoks = [tk if tk is not None else [] for tk in toks]
            no_nulls = np.zeros(len(ids), bool)
            flat_o, counts_o, _ = _doc_layout(otoks)
            flat_m, counts_m, _ = _doc_layout(mtoks)
            h_o, wc_o = _stringfold_flat(flat_o, counts_o, n)
            h_m, wc_m = _stringfold_flat(flat_m, counts_m, n)
            cols = [
                ids_arr,
                _list_array(h_o, wc_o, no_nulls),
                _list_array(h_m, wc_m, no_nulls),
                pa.array(common),
                pa.array(n1),
                pa.array(n2),
            ]
            names = [id_col, "shs_o", "shs_m", "common", "n1", "n2"]
            if pairs is not None:
                for h, wc, nm in ((h_o, wc_o, "sig_o"), (h_m, wc_m, "sig_m")):
                    sig, nz = _minhash_from_windows(h, wc, pairs)
                    cols.append(
                        _list_array(
                            sig[nz].ravel(),
                            np.where(nz, len(pairs), 0),
                            no_nulls,
                        )
                    )
                    names.append(nm)
            yield pa.record_batch(cols, names=names)

    schema = (
        f"{id_col} {id_type}, shs_o array<bigint>, shs_m array<bigint>, "
        "common bigint, n1 bigint, n2 bigint"
    )
    if pairs is not None:
        schema += ", sig_o array<bigint>, sig_m array<bigint>"
    return src.mapInArrow(run, schema)
