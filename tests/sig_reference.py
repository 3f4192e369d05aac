"""Spark SQL reference forms of the text signatures and the embedding math.

The package computes every md5 text signature on one Arrow kernel
(``corpus._md5_digests`` under ``corpus.minhash_udf``,
``corpus.simhash_bands_udf`` and ``corpus.text_fingerprint``) and the
embedding bands, norms and dots with numpy (``corpus.emb_bands_nrm_udf``,
``corpus.emb_dot_udf``).  The SQL higher-order-function forms below
compute the same values row at a time inside Spark; the parity tests in
tests/test_sig_parity.py compare the engines against them and check them
in turn against pure-Python replicas, and the brute-force dedup oracles of
tests/test_dedup_cli.py score with ``DOT_S``.  The DuckDB dialect of each
form stays in the package as the registry oracles.
"""

from pyspark.sql import functions as F

from pdf_extractor_spark.corpus import (N_EMB_BANDS, SHINGLES_FROM_TEXT_S,
                                        WORDS_S, _plane_signs, let1)


# --- MinHash (corpus.minhash_udf) ------------------------------------------
# One let-bound expression from `text`: the shingles `sh`, their digests
# `hs` (md5(x) ++ md5('#'+x), 64 hex chars) and the 8 lane mins `ln` (min
# over hex chars 8j..8j+7) are each evaluated once per row (see let1).

_LANES8 = ("transform(sequence(0, 7), j -> "
           "array_min(transform(hs, h -> substring(h, cast(8 * j + 1 as int), 8))))")

_HS_OVER_SH = "transform(sh, x -> concat(md5(x), md5(concat('#', x))))"


def _over_lanes_s(body: str) -> str:
    """``body`` over the let-bound ``sh``, ``hs`` and ``ln``."""
    return let1(SHINGLES_FROM_TEXT_S, "sh",
                let1(_HS_OVER_SH, "hs", let1(_LANES8, "ln", body)))


# the columns of the registry dedup_minhash_signatures
MINHASH_SIG_S = _over_lanes_s(
    "named_struct('n_shingles', size(sh), 'mh0', ln[0], 'mh1', ln[1], "
    "'band0', concat(ln[0], ln[1]), 'band1', concat(ln[2], ln[3]), "
    "'band2', concat(ln[4], ln[5]), 'band3', concat(ln[6], ln[7]))")

# the full struct of corpus.minhash_udf
MINHASH_LSH_SIG_S = _over_lanes_s(
    "named_struct('n_shingles', size(sh), 'shset', array_distinct(sh), "
    "'bands', array(concat(ln[0], ln[1]), concat(ln[2], ln[3]), "
    "concat(ln[4], ln[5]), concat(ln[6], ln[7])))")


def _simhash_from_text_s(nbits: int = 16) -> str:
    """The registry dedup_simhash signature straight from `text`, ONE pass
    over the word digests: aggregate folds every md5 into an nbits-wide
    vote vector (zip_with adds the ±1 parity votes of all bits at once),
    then the vote vector folds into the signature.  The package gathers
    these bits from ``corpus.simhash_bands_udf(16)`` (``_SIMHASH16_S``)."""
    votes = (f"aggregate(hs, transform(sequence(1, {nbits}), j -> 0), "
             f"(acc, h) -> zip_with(acc, transform(sequence(1, {nbits}), "
             "j -> CASE WHEN (instr('0123456789abcdef', substr(h, j, 1)) - 1) % 2 = 1 "
             "THEN 1 ELSE -1 END), (x, y) -> x + y))")
    bits = (f"cast(aggregate(sequence(0, {nbits - 1}), cast(0 as bigint), "
            "(a, j) -> a + (CASE WHEN vt[j] > 0 "
            "THEN shiftleft(cast(1 as bigint), j) ELSE cast(0 as bigint) END)) "
            "as bigint)")
    return let1(f"transform({WORDS_S}, w -> md5(w))", "hs",
                let1(votes, "vt", bits))


# winnowing sketch of corpus.text_fingerprint: md5 hex of each word 4-gram,
# min of each window of 3, distinct; over a `words` column of >= 6 words
FINGERPRINT_KH_S = (
    "transform(sequence(0, size(words) - 4), "
    "i -> md5(concat(words[i], ' ', words[i+1], ' ', words[i+2], ' ', words[i+3])))")
FINGERPRINT_FPS_S = ("array_distinct(transform(sequence(0, size(kh) - 3), "
                     "i -> least(kh[i], kh[i+1], kh[i+2])))")


# exact int64 dot product of two quantized vectors qa, qb (the SQL form of
# corpus.emb_dot_udf)
DOT_S = "aggregate(zip_with(qa, qb, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"


def _simhash_nib_from_text_s(nbits: int = 60) -> str:
    """Spark dialect of the wide simhash, single aggregate pass (see
    _simhash_from_text_s for why one pass matters).  Per word hash
    the ceil(nbits/4) hex nibbles are decoded ONCE (let-bound), then the
    nbits per-bit votes are cheap shifts — instr/substr per BIT would
    quadruple the string work in the inner loop."""
    ndigits = (nbits + 3) // 4
    nibs = (f"transform(sequence(1, {ndigits}), d -> "
            "instr('0123456789abcdef', substr(h, d, 1)) - 1)")
    bitvotes = (f"transform(sequence(1, {nbits}), j -> "
                "CASE WHEN shiftright(nb[(j - 1) div 4], (j - 1) % 4) % 2 = 1 "
                "THEN 1 ELSE -1 END)")
    votes = (f"aggregate(hs, transform(sequence(1, {nbits}), j -> 0), "
             f"(acc, h) -> zip_with(acc, {let1(nibs, 'nb', bitvotes)}, "
             "(x, y) -> x + y))")
    bits = (f"cast(aggregate(sequence(0, {nbits - 1}), cast(0 as bigint), "
            "(a, j) -> a + (CASE WHEN vt[j] > 0 "
            "THEN shiftleft(cast(1 as bigint), j) ELSE cast(0 as bigint) END)) "
            "as bigint)")
    return let1(f"transform({WORDS_S}, w -> md5(w))", "hs",
                let1(votes, "vt", bits))


def _simhash_bands_from_text_s(bits: int) -> str:
    """SQL form of ``corpus._simhash_bands_batch``: an array of 4
    pigeonhole bands of ``bits`` bits each over a 4·bits-wide signature,
    in one aggregate pass.  Band k holds signature bits [k·bits,
    (k+1)·bits) under the same vote rule as `_simhash_nib_from_text_s`
    (bit j votes on bit j%4 of word-digest hex digit j//4), so at bits=15
    the 4 values equal the 60-bit signature's band split exactly.  Beyond
    md5's 32 hex digits the word digest doubles (md5(w) ++ md5('#'+w)),
    supporting bits <= 63 (bigint band)."""
    if not 1 <= bits <= 63:
        raise ValueError(f"band width {bits} outside [1, 63]")
    nbits = 4 * bits
    src = ("md5(w)" if bits <= 32
           else "concat(md5(w), md5(concat('#', w)))")
    nibs = (f"transform(sequence(1, {bits}), d -> "
            "instr('0123456789abcdef', substr(h, d, 1)) - 1)")
    bitvotes = (f"transform(sequence(1, {nbits}), j -> "
                "CASE WHEN shiftright(nb[(j - 1) div 4], (j - 1) % 4) % 2 = 1 "
                "THEN 1 ELSE -1 END)")
    votes = (f"aggregate(hs, transform(sequence(1, {nbits}), j -> 0), "
             f"(acc, h) -> zip_with(acc, {let1(nibs, 'nb', bitvotes)}, "
             "(x, y) -> x + y))")
    band = (f"transform(sequence(0, 3), k -> "
            f"cast(aggregate(sequence(k * {bits}, k * {bits} + {bits - 1}), "
            "cast(0 as bigint), (a, j) -> a + (CASE WHEN vt[j] > 0 "
            f"THEN shiftleft(cast(1 as bigint), j - k * {bits}) "
            "ELSE cast(0 as bigint) END)) as bigint))")
    return let1(f"transform({WORDS_S}, w -> {src})", "hs",
                let1(votes, "vt", band))


def _plane_dot(vec: str, h: int) -> str:
    """Spark signed dot against the literal sign vector of plane ``h``
    (exact int64 sum).  The signs ride as a small array literal +
    zip_with — NOT a 64-term ±element chain, which balloons the
    expression tree past what Catalyst will codegen."""
    signs = ", ".join(str(s) for s in _plane_signs(h))
    return (f"aggregate(zip_with({vec}, array({signs}), "
            f"(x, s) -> x * CAST(s AS BIGINT)), 0L, (acc, v) -> acc + v)")


def _band_bucket(vec: str, band: int, ppb: int) -> str:
    """Bucket id of `band`: ppb sign bits of planes [band*ppb, band*ppb+ppb)."""
    bits = [f"(CASE WHEN {_plane_dot(vec, band * ppb + i)} > 0 "
            f"THEN {1 << i} ELSE 0 END)" for i in range(ppb)]
    return "CAST((" + " + ".join(bits) + ") AS INT)"


def _bands_array_s(vec: str, ppb: int):
    """SQL form of the ``bands`` field of ``corpus.emb_bands_nrm_udf``."""
    return F.array(*[F.expr(_band_bucket(vec, k, ppb))
                     for k in range(N_EMB_BANDS)])
