"""Shared token-scan intermediates — one physical pass over the `tokens`
column serving every rule that needs it.

`tokens` is ~99% of the table's bytes. Without sharing, column_stats reads it
for `size(tokens)` and drift reads it again for token frequencies: two full
decompressions of the dominant column per suite run. This module computes ONE
Arrow-native pass emitting tagged, mergeable partials that both rules consume
(the engine-level analog of a shared CTE / common-subplan reuse):

    kind 0  n_tok histogram        key = n_tok value      cnt = rows
    kind 1  token frequency        key = token id         cnt = occurrences
    kind 2  len-mismatch rows      key = 0                cnt = rows with n_tok != size(tokens)
    kind 3  null-tokens rows       key = 0                cnt = rows with tokens IS NULL
    kind 4  out-of-vocab rows      key = 0                cnt = rows with any token
                                                                outside [vocab_lo, vocab_hi)
    kind 5  row census             key = defect bitmask   cnt = rows
                                   (1 null doc_id | 2 null n_tok | 4 non-null n_tok <= 0)

Kind 4 is emitted only when the scan is built with explicit vocab bounds
(``vocab_lo``/``vocab_hi``): it screens the token_bounds rule against the
TOKENIZER vocabulary, which is independent of the reference-profile domain
kinds 0/1 use — in the hashed-domain fallback the profile keys are no longer
token ids at all, so the bound check always runs on the raw values BEFORE any
hashing.

Kind 0 covers every row with a non-null ``n_tok``, null source included:
drift scores only the non-null sources (a null source has no reference
profile), while column_stats reads ``n_tok``'s min, max, sum and histogram
over all rows from it. Kind 1 is emitted only for non-null sources, and not
at all for a pass built without profiles (``build_shared`` with no
``reference_profiles``: an empty token domain). Kind 5 covers every row
exactly once, so its total is the row count and its per-source groups give
referential its unknown-source count and column_stats its null/non-positive
counts without another scan.

Consumers read the partials through ``SharedTokenStats.table()``: ONE
memoized driver collect (``partials.toArrow()``), so the suite runs the
partials plan once however many rules ask, and each rule's verdict is a
driver function of the merged partials. ``build_shared`` makes the pass a
``RuleContext`` asks for; ``shared_for`` hands a rule the suite's pass, or
builds one when the rule runs alone.

One kernel (``_make_batch_gen``) behind two feeds: Spark's scan through
``mapInArrow`` (any DataFrame, in-memory frames included) and pyarrow
reading the listed parquet files in the worker (``direct_files``). Both hand
it RecordBatches of the same raw columns (part_id, doc_id, source, n_tok,
tokens). Vectorization: the token lists are consumed as (lengths, flat
values) — no per-row ndarray conversion, no per-group Python loop. Group
labels are factorized once per batch; all counting is `np.bincount` /
`np.unique` over combined integer keys.

The flat-token loop is CHUNKED (1M tokens at a time) so every numpy temporary
stays under glibc's 32MB mmap threshold: larger buffers are mmap'd fresh on
every allocation and returned to the OS on free, which on this sandbox's
first-touch page-fault path costs 10-50x the actual arithmetic (measured:
un-chunked ~15s vs chunked ~0.4s per 10M-token task, same answers). Chunk
temporaries come from the allocator's warm free lists, and reused python
workers keep them warm across tasks.

Scale: each task emits <= |groups| x (|ref tokens| + |distinct n_tok|) partial
rows per batch regardless of row width; the groupBy that merges partials is a
partial-aggregated shuffle of those tiny rows only. Token arrays cross into
Arrow unfiltered on purpose: the raw int32 buffer moves at memcpy speed and a
numpy mask beats a codegen'd per-element JVM F.filter ~3x (measured on 38M
rows); nothing is ever shuffled at token granularity either way.
"""

from __future__ import annotations

import threading

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

KIND_NTOK = 0
KIND_TOKEN = 1
KIND_LEN_MISMATCH = 2
KIND_NULL_TOKENS = 3
KIND_OOV_ROWS = 4
KIND_ROWS = 5

# kind-5 defect bits
ROW_NULL_DOC_ID = 1
ROW_NULL_NTOK = 2
ROW_NONPOS_NTOK = 4

# Driver-OOM guard for the reference-profile token domain: the collected
# token-id set is bounded by the reference vocabulary (~10^5-10^6 for real
# tokenizers). A pathological profile above the cap falls back to hashing
# token ids into a bounded bucket domain (Knuth multiplicative mod 2^32),
# applied identically to the corpus side (numpy, below) and the profile side
# (drift rule), so frequency comparison stays consistent — at the cost of
# hash-collision blur instead of a driver OOM.
DEFAULT_MAX_REF_TOKENS = 1_000_000
DEFAULT_HASH_BUCKETS = 1 << 16
HASH_MULT = 2654435761  # Knuth's 2^32 / phi


def hash_token_bucket(tokens: np.ndarray, mod: int) -> np.ndarray:
    """Deterministic token-id -> bucket map, identical to the SQL form
    ``pmod(pmod(t * 2654435761, 4294967296), mod)`` for non-negative t."""
    return ((tokens.astype(np.int64) * HASH_MULT) & 0xFFFFFFFF) % mod

PARTIAL_SCHEMA = "part_id int, source string, kind int, key long, cnt long"
PARTIAL_KEYS = ["part_id", "source", "kind", "key"]
# the columns the kernel reads, in both feeds
_RAW_COLUMNS = ["part_id", "doc_id", "source", "n_tok", "tokens"]

_NTOK_BITS = np.int64(33)
_NTOK_MASK = np.int64((1 << 33) - 1)


class SharedTokenStats:
    """Lazily-built, optionally persisted partials DataFrame, and its one
    memoized driver-side collect. With ``direct_files`` the pass reads those
    files (``df`` may then be None: the active session runs it);
    ``collected`` wraps partials that are already on the driver."""

    def __init__(self, df: DataFrame | None, lo: int, hi: int, contiguous: bool,
                 ref_tokens: list[int] | None = None,
                 hash_mod: int | None = None,
                 vocab_lo: int | None = None,
                 vocab_hi: int | None = None,
                 direct_files: list[tuple[int, str]] | None = None,
                 table=None):
        self.lo = int(lo)
        self.hi = int(hi)
        self.contiguous = bool(contiguous)
        self.ref_tokens = ref_tokens
        self.hash_mod = hash_mod
        self.vocab_lo = vocab_lo
        self.vocab_hi = vocab_hi  # exclusive; None disables kind 4
        self._lock = threading.Lock()
        self._table = table
        self._partials = None
        if table is None:
            kernel = _make_batch_gen(
                self.lo, self.hi, ref_tokens, hash_mod, vocab_lo, vocab_hi
            )
            self._partials = (
                _build_partials_direct(
                    df.sparkSession if df is not None else SparkSession.active(),
                    direct_files,
                    kernel,
                )
                if direct_files
                else _build_partials(df, kernel)
            )

    @classmethod
    def from_profiles(
        cls,
        df: DataFrame,
        profiles: DataFrame,
        max_ref_tokens: int = DEFAULT_MAX_REF_TOKENS,
        hash_buckets: int = DEFAULT_HASH_BUCKETS,
        vocab_lo: int | None = None,
        vocab_hi: int | None = None,
        direct_files: list[tuple[int, str]] | None = None,
    ) -> "SharedTokenStats":
        # Bound the profile-domain collect with a LIMIT pushed into the ONE
        # Spark job (no separate count() job): at most cap+1 distinct keys
        # ever reach the driver. Seeing cap+1 proves the profile is over the
        # cap — nothing unbounded is collected; the domain becomes
        # [0, hash_buckets) and corpus tokens are hashed into it (the drift
        # rule hashes the profile side identically via `self.hash_mod`).
        keys = (
            profiles.select(F.explode(F.map_keys("token_freq")).alias("t"))
            .distinct()
            .limit(max_ref_tokens + 1)
            .collect()
        )
        if len(keys) > max_ref_tokens:
            return cls(df, 0, hash_buckets - 1, True, None,
                       hash_mod=hash_buckets,
                       vocab_lo=vocab_lo, vocab_hi=vocab_hi,
                       direct_files=direct_files)
        ref_tokens = sorted(r["t"] for r in keys)
        lo, hi = ref_tokens[0], ref_tokens[-1]
        contiguous = ref_tokens == list(range(lo, hi + 1))
        return cls(df, lo, hi, contiguous, None if contiguous else ref_tokens,
                   vocab_lo=vocab_lo, vocab_hi=vocab_hi,
                   direct_files=direct_files)

    @classmethod
    def collected(cls, table) -> "SharedTokenStats":
        """Partials already on the driver (a pyarrow Table of the
        ``PARTIAL_SCHEMA`` columns, e.g. stored partials merged with a new
        pass's): the readers below, with no Spark plan behind them."""
        return cls(None, 0, -1, True, table=table)

    @property
    def partials(self) -> DataFrame:
        return self._partials

    def persist(self) -> "SharedTokenStats":
        from pyspark import StorageLevel

        self._partials = self._partials.persist(StorageLevel.MEMORY_AND_DISK)
        return self

    def unpersist(self) -> None:
        try:
            self._partials.unpersist()
        except Exception:
            pass

    def table(self):
        """The merged partials as one pyarrow Table. The first caller runs
        the partials plan (the one Spark job over them); concurrent callers
        wait on the lock, on the driver, holding no task slot."""
        with self._lock:
            if self._table is None:
                self._table = self._partials.toArrow()
            return self._table

    def rows(self, *kinds: int):
        """The collected partials of the given kinds, as a pyarrow Table."""
        import pyarrow as pa
        import pyarrow.compute as pc

        t = self.table()
        return t.filter(pc.is_in(t["kind"], value_set=pa.array(kinds, pa.int32())))

    def counts_by_part(self, *kinds: int) -> dict[int, int]:
        """part_id -> summed ``cnt`` of the given kinds (parts with none
        are absent)."""
        t = self.rows(*kinds)
        out: dict[int, int] = {}
        for pid, cnt in zip(t["part_id"].to_pylist(), t["cnt"].to_pylist()):
            out[pid] = out.get(pid, 0) + cnt
        return out

    def census(self) -> list[tuple[int, str | None, int, int]]:
        """The kind-5 rows: (part_id, source, defect bits, rows)."""
        t = self.rows(KIND_ROWS)
        return list(
            zip(*(t[c].to_pylist() for c in ("part_id", "source", "key", "cnt")))
        )

    def part_ids(self) -> list[int]:
        """The partitions holding at least one row."""
        return sorted(self.counts_by_part(KIND_ROWS))


def build_shared(df: DataFrame, ctx, direct_files=None) -> SharedTokenStats:
    """The shared pass a ``RuleContext`` asks for: token_bounds' vocab
    bounds from ``ctx.params`` (kind 4), drift's domain caps
    (``max_ref_tokens``, ``hash_buckets``) from ``ctx.params["drift"]`` and
    the reference domain from ``ctx.reference_profiles`` — with no profiles,
    an empty domain and so no kind-1 rows. With ``direct_files`` the pass
    reads just those (part_id, path) files and ``df`` may be None."""
    lo, hi = vocab_bounds(ctx.params)
    if ctx.reference_profiles is None:
        return SharedTokenStats(df, 0, -1, True, vocab_lo=lo, vocab_hi=hi,
                                direct_files=direct_files)
    d = ctx.params.get("drift") or {}
    return SharedTokenStats.from_profiles(
        df,
        ctx.reference_profiles,
        max_ref_tokens=int(d.get("max_ref_tokens", DEFAULT_MAX_REF_TOKENS)),
        hash_buckets=int(d.get("hash_buckets", DEFAULT_HASH_BUCKETS)),
        vocab_lo=lo,
        vocab_hi=hi,
        direct_files=direct_files,
    )


def vocab_bounds(params: dict | None) -> tuple[int, int]:
    """token_bounds' [vocab_lo, vocab_size) from rule params."""
    from ..operators.token_bounds import DEFAULTS

    p = {**DEFAULTS, **(params or {})}
    return int(p["vocab_lo"]), int(p["vocab_size"])


def shared_for(df: DataFrame, ctx) -> SharedTokenStats:
    """``ctx.shared`` when the suite built it for the same vocab bounds;
    otherwise (a rule run alone, or a pass built for other bounds) a fresh
    ``build_shared`` pass over ``df``."""
    shared = ctx.shared
    if shared is not None and (shared.vocab_lo, shared.vocab_hi) == vocab_bounds(
        ctx.params
    ):
        return shared
    return build_shared(df, ctx)


def _decode_ntok(masked: np.ndarray) -> np.ndarray:
    """Undo the 33-bit two's-complement packing of n_tok keys."""
    out = masked.astype(np.int64)
    neg = out >= np.int64(1 << 32)
    out[neg] -= np.int64(1 << 33)
    return out


def _build_partials(df: DataFrame, kernel) -> DataFrame:
    """The mapInArrow feed: Spark's scan of ``df`` hands ``kernel`` the raw
    columns. Domain filtering happens in numpy, not the JVM: a codegen'd
    F.filter over 4e9 array elements costs ~3x the whole vectorized numpy
    mask, and Arrow moves the raw int32 buffer essentially at memcpy speed
    (measured: JVM-filter path 24s vs full-transfer+numpy-mask 17s on 38M
    rows/16c)."""
    return _merge(df.select(*_RAW_COLUMNS).mapInArrow(kernel, PARTIAL_SCHEMA))


def _merge(partials: DataFrame) -> DataFrame:
    """Every task's partials summed per ``PARTIAL_KEYS``, in Spark."""
    return partials.groupBy(*PARTIAL_KEYS).agg(F.sum("cnt").alias("cnt"))


def merge_partials(table):
    """A pyarrow Table of partials with ``cnt`` summed per
    ``PARTIAL_KEYS``: the worker's per-file merge, and the incremental
    store's merge of stored and new partials."""
    return (
        table.group_by(PARTIAL_KEYS, use_threads=False)
        .aggregate([("cnt", "sum")])
        .rename_columns([*PARTIAL_KEYS, "cnt"])
    )


def _build_partials_direct(
    spark, files: list[tuple[int, str]], kernel
) -> DataFrame:
    """Same partials, but each task DECODES ITS PARQUET FILE IN THE PYTHON
    WORKER with pyarrow instead of shipping `tokens` through the JVM scan →
    row → Arrow transpose (optimization guide §4.2: hand whole batches to
    vectorized native code; the Python boundary cost is controlled by how
    the bytes cross, and here the token buffers never materialize as JVM
    rows at all). Measured at the 3.2M-row bench corpus: the Spark-scan
    feed costs ~1.5s before the kernel sees a byte, the pyarrow feed ~0.4s.

    Spark still owns distribution and retries — the input is a range of
    indexes into ``pack_files`` groups of the (part_id, path) file list, one
    range partition (task) per group, so no shuffle precedes the kernel.
    Each parquet batch goes to the same kernel as the mapInArrow feed's,
    with only the file's ``part_id`` column added, so both feeds emit the
    same partials (pinned by tests/test_rules.py). The mapInArrow feed stays
    for what this one cannot read: in-memory frames and the corrupt-tolerant
    Spark scan."""
    files = [(int(p), str(f)) for p, f in files]
    groups = pack_files(
        [f for _, f in files], spark.sparkContext.defaultParallelism
    )

    def read_gen(batches):
        import pyarrow as pa
        import pyarrow.parquet as pq

        for b in batches:
            for i in (j for g in b.column(0).to_pylist() for j in groups[g]):
                pid, path = files[i]
                outs: list = []
                # 16k-row batches, measured optimum (r6 interleaved A/B):
                # larger ~64MB batches emit 6x fewer partial rows but push
                # the flat-token temporary past glibc's 32MB mmap threshold
                # (the first-touch page-fault cost the module docstring
                # documents) and lose decode/kernel pipelining — net ~10%
                # slower.
                for rb in pq.ParquetFile(path).iter_batches(
                    batch_size=16384, columns=_RAW_COLUMNS[1:], use_threads=False
                ):
                    part = pa.array(np.full(rb.num_rows, pid, dtype=np.int32))
                    outs.extend(kernel([rb.add_column(0, "part_id", part)]))
                if outs:
                    # merge the per-batch partials IN THE WORKER before they
                    # cross back to the JVM: one file emits its final
                    # per-(source, kind, key) counts once (~6x fewer rows
                    # through the Arrow->row boundary and the partial agg)
                    yield from merge_partials(pa.Table.from_batches(outs)).to_batches()

    return _merge(
        spark.range(0, len(groups), 1, numPartitions=len(groups)).mapInArrow(
            read_gen, PARTIAL_SCHEMA
        )
    )


def pack_files(paths: list[str], n_tasks: int) -> list[list[int]]:
    """Indexes of ``paths`` in at most ``n_tasks`` groups of about equal
    bytes: largest file first onto the lightest group, each group in list
    order. A Python task has a fixed set-up cost (the worker re-reads its
    zip imports on every task, ~0.25 s of CPU on a 4-core VM), so a task per
    small file spends more on set-up than on the kernel; groups capped at
    the default parallelism still keep every core busy."""
    import heapq
    import os

    sizes = []
    for p in paths:
        try:
            sizes.append(os.path.getsize(p))
        except OSError:
            sizes.append(0)
    n = max(1, min(len(paths), int(n_tasks)))
    lightest = [(0, g) for g in range(n)]  # (bytes, group) min-heap
    groups: list[list[int]] = [[] for _ in range(n)]
    for i in sorted(range(len(paths)), key=lambda i: (-sizes[i], i)):
        load, g = heapq.heappop(lightest)
        groups[g].append(i)
        heapq.heappush(lightest, (load + sizes[i], g))
    return [sorted(g) for g in groups if g]


def _make_batch_gen(
    lo: int,
    hi: int,
    ref_tokens: list[int] | None,
    hash_mod: int | None,
    vocab_lo: int | None,
    vocab_hi: int | None,
):
    """The per-batch counting kernel, shared by the mapInArrow feed and the
    pyarrow-direct feed. Input batches carry the raw ``_RAW_COLUMNS``
    (part_id, doc_id, source, n_tok, tokens), read by name; the token-array
    sizes and the kind-5 defect bits are computed here, with pyarrow, so
    both feeds hand over the same columns."""
    span = hi - lo + 1
    ref_np = (
        np.asarray(ref_tokens, dtype=np.int64) if ref_tokens is not None else None
    )
    vlo = np.int64(vocab_lo if vocab_lo is not None else 0)
    vhi = None if vocab_hi is None else np.int64(vocab_hi)

    def _mask(bools):
        return bools.to_numpy(zero_copy_only=False).astype(np.int64)

    def gen(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for b in batches:
            n = b.num_rows
            if not n:
                continue
            pid = b.column("part_id").to_numpy(zero_copy_only=False).astype(np.int64)
            src_arr = b.column("source")
            n_tok = b.column("n_tok")
            ntok = n_tok.to_numpy(zero_copy_only=False)  # float+NaN if nulls
            lists = b.column("tokens")
            # -1 marks a NULL token array
            tok_sz = (
                pc.fill_null(pc.list_value_length(lists), -1)
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            defects = (
                ROW_NULL_DOC_ID * _mask(pc.is_null(b.column("doc_id")))
                | ROW_NULL_NTOK * _mask(pc.is_null(n_tok))
                | ROW_NONPOS_NTOK * _mask(pc.fill_null(pc.less_equal(n_tok, 0), False))
            )

            # group labels: factorize (part_id, source) — vectorized.
            # null sources get the sentinel code n_src (every kind but 1).
            d = pc.dictionary_encode(src_arr)
            idx = d.indices.to_numpy(zero_copy_only=False)
            n_src = len(d.dictionary)
            src_codes = np.where(np.isnan(idx), n_src, idx).astype(np.int64) \
                if idx.dtype.kind == "f" else idx.astype(np.int64)
            src_uniq = np.empty(n_src + 1, dtype=object)
            src_uniq[:n_src] = d.dictionary.to_pylist()
            src_uniq[n_src] = None
            combo = pid * (n_src + 1) + src_codes
            uniq_combo, ginv = np.unique(combo, return_inverse=True)
            ng = len(uniq_combo)
            g_pid = (uniq_combo // (n_src + 1)).astype(np.int32)
            g_src_code = (uniq_combo % (n_src + 1)).astype(np.int64)
            g_src = src_uniq[g_src_code]
            g_src_ok = g_src_code < n_src  # groups with a real (non-null) source
            row_src_ok = src_codes < n_src

            out = {k: [] for k in ("pid", "src", "kind", "key", "cnt")}

            def emit(gidx: np.ndarray, kind: int, key: np.ndarray, cnt: np.ndarray):
                out["pid"].append(g_pid[gidx])
                out["src"].append(g_src[gidx])
                out["kind"].append(np.full(len(gidx), kind, dtype=np.int32))
                out["key"].append(np.asarray(key, dtype=np.int64))
                out["cnt"].append(np.asarray(cnt, dtype=np.int64))

            # ---- kind 0: n_tok histogram (every row with a non-null n_tok) --
            valid = ~np.isnan(ntok) if ntok.dtype.kind == "f" else np.ones(n, bool)
            nt = ntok[valid].astype(np.int64)
            if nt.size:
                comb = (ginv[valid] << _NTOK_BITS) | (nt & _NTOK_MASK)
                u, c = np.unique(comb, return_counts=True)
                emit((u >> _NTOK_BITS).astype(np.int64), KIND_NTOK,
                     _decode_ntok(u & _NTOK_MASK), c)

            # ---- kind 1: token counts via flat values + lengths ------------
            # chunked: every temporary <= ~8MB (see module docstring)
            lengths = np.maximum(tok_sz, 0)
            flat = lists.flatten().to_numpy(zero_copy_only=False)
            span1 = span + 1  # last slot per group = out-of-domain sentinel
            offsets = np.empty(n + 1, dtype=np.int64)
            offsets[0] = 0
            np.cumsum(lengths, out=offsets[1:])
            # FAST path (the common case: contiguous [0, hi] reference domain,
            # vocab_lo 0, raw int32 token buffer): view the int32 buffer as
            # uint32 so negatives become huge, making BOTH the domain test and
            # the vocab-bound test a single unsigned compare, and keep every
            # chunk temporary 32-bit — one np.minimum + one multiply-add per
            # token instead of five int64 passes (measured 2.1x on the
            # kernel microbench, OPTIMIZATION_r06.md §2a). Null-source rows
            # go to a DISCARD group (ng) instead of a per-element mask.
            fast = (
                hash_mod is None
                and ref_np is None
                and flat.dtype == np.int32
                and lo == 0
                and hi < 2**31 - 1
                and (vhi is None or int(vlo) == 0)
            )
            if fast:
                flat_u = flat.view(np.uint32)
                grp32 = np.where(row_src_ok, ginv, ng).astype(np.int32)
                acc = np.zeros((ng + 1) * span1, dtype=np.int64)
            else:
                grp = np.where(row_src_ok, ginv, -1)  # -1 = null-source row
                acc = np.zeros(ng * span1, dtype=np.int64)
            oov_rows = np.zeros(ng, dtype=np.int64)  # kind 4 accumulator
            CHUNK = 1 << 20
            row = 0
            while row < n:
                # widest row block whose token total fits the chunk budget
                row_end = int(
                    np.searchsorted(offsets, offsets[row] + CHUNK, side="right")
                ) - 1
                row_end = max(row_end, row + 1)
                start, end = int(offsets[row]), int(offsets[row_end])
                if fast:
                    flu = flat_u[start:end]
                    if vhi is not None:
                        bad_tok = flu >= np.uint32(int(vhi))
                        if bad_tok.any():
                            nr = row_end - row
                            rows_local = np.repeat(
                                np.arange(nr), lengths[row:row_end]
                            )
                            hit = (
                                np.bincount(rows_local[bad_tok], minlength=nr)
                                > 0
                            )
                            oov_rows += np.bincount(
                                ginv[row:row_end][hit], minlength=ng
                            )
                    g = np.repeat(grp32[row:row_end], lengths[row:row_end])
                    rel = np.minimum(flu, np.uint32(span)).astype(np.int32)
                    combo = rel + g * np.int32(span1)
                    acc += np.bincount(combo, minlength=(ng + 1) * span1)
                    row = row_end
                    continue
                g = np.repeat(grp[row:row_end], lengths[row:row_end])
                fl = flat[start:end].astype(np.int64)
                # ---- kind 4: vocab-bound check on the RAW values (before
                # any profile-domain hashing); per-row any-OOV via bincount,
                # null-source rows included (they group under the sentinel)
                if vhi is not None:
                    bad_tok = (fl < vlo) | (fl >= vhi)
                    if bad_tok.any():
                        nr = row_end - row
                        rows_local = np.repeat(
                            np.arange(nr), lengths[row:row_end]
                        )
                        hit = (
                            np.bincount(rows_local[bad_tok], minlength=nr) > 0
                        )
                        oov_rows += np.bincount(
                            ginv[row:row_end][hit], minlength=ng
                        )
                row = row_end
                if hash_mod is not None:
                    fl = hash_token_bucket(fl, hash_mod)
                rel = fl - lo
                oob = (rel < 0) | (rel >= span)
                if ref_np is not None:
                    # non-contiguous reference vocab: sorted-membership test
                    idx = np.searchsorted(ref_np, fl).clip(0, len(ref_np) - 1)
                    oob |= ref_np[idx] != fl
                oob |= g < 0
                rel = rel.clip(0, span - 1)
                combo = np.where(oob, span, rel) + np.maximum(g, 0) * span1
                acc += np.bincount(combo, minlength=ng * span1)
            if fast:
                # drop the discard group (null-source rows) and the sentinel
                # column (out-of-domain tokens) — identical semantics to the
                # masked general path
                acc = acc.reshape(ng + 1, span1)[:ng, :span].ravel()
            else:
                acc = acc.reshape(ng, span1)[:, :span].ravel()
            nz = np.nonzero(acc)[0]
            if nz.size:
                emit(nz // span, KIND_TOKEN, nz % span + lo, acc[nz])

            if vhi is not None and oov_rows.any():
                nz = np.nonzero(oov_rows)[0]
                emit(nz, KIND_OOV_ROWS, np.zeros(len(nz)), oov_rows[nz])

            # ---- kind 2: len mismatch (n_tok set and != original size) ----
            m2 = valid & (tok_sz >= 0)
            m2[m2] &= ntok[m2].astype(np.int64) != tok_sz[m2]
            if m2.any():
                bc = np.bincount(ginv[m2], minlength=ng)
                nz = np.nonzero(bc)[0]
                emit(nz, KIND_LEN_MISMATCH, np.zeros(len(nz)), bc[nz])

            # ---- kind 3: null token arrays ---------------------------------
            nulls = tok_sz < 0
            if nulls.any():
                bc = np.bincount(ginv[nulls], minlength=ng)
                nz = np.nonzero(bc)[0]
                emit(nz, KIND_NULL_TOKENS, np.zeros(len(nz)), bc[nz])

            # ---- kind 5: row census, every row once ----------------------
            bc = np.bincount(ginv * 8 + defects, minlength=ng * 8)
            nz = np.nonzero(bc)[0]
            emit(nz // 8, KIND_ROWS, nz % 8, bc[nz])

            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(out["pid"]), type=pa.int32()),
                    pa.array(np.concatenate(out["src"]), type=pa.string()),
                    pa.array(np.concatenate(out["kind"]), type=pa.int32()),
                    pa.array(np.concatenate(out["key"]), type=pa.int64()),
                    pa.array(np.concatenate(out["cnt"]), type=pa.int64()),
                ],
                names=["part_id", "source", "kind", "key", "cnt"],
            )

    return gen
