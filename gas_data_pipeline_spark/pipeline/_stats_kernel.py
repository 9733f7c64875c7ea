"""Footer-stats kernel: the pure per-file functions the versioned
store's commit path ships to executors.

Why a separate module (ADVICE r13): the parallel stats job must ship
its closure BY VALUE (workers spawn from the driver's cwd with no repo
on sys.path — the real-cluster posture), but
``cloudpickle.register_pickle_by_value`` is a PROCESS-GLOBAL switch on
a whole module. Registering ``versioned`` itself made every subsequent
unrelated closure referencing that module serialize the full module —
including mutated module globals (a test-patched ``_STATS_LOCAL_MAX``)
— into executor tasks. This module is the minimal by-value surface:
pure functions over immutable constants, no store state, safe to keep
registered for the life of the process.

Everything here is deliberately dependency-free (stdlib + pyarrow,
imported lazily inside the function that needs it).
"""

from __future__ import annotations

# Business-key columns whose per-partition/per-file min/max ride in
# the manifest (the file-stats half of Iceberg's manifests — the
# reference's B-tree on (series_id, observation_time) analog,
# db_queries.sql:79-80). series_id is the axis every read filters on;
# observation_time bounds let a SUB-DAY time-range read prune below
# the date-partition grain.
STATS_COLS = ("series_id", "observation_time")

# Distrust footer min/max beyond this length: parquet writers may
# truncate or drop statistics for long binary values, and a truncated
# max understates the real bound — pruning on it would wrongly skip a
# partition. Business keys are short; anything longer loses stats,
# never correctness (absent stats = partition kept).
_STATS_MAX_LEN = 1024

# Key-fingerprint parameters (the Parquet/Iceberg bloom-filter
# analog, round 14): each data file's manifest entry carries the
# file's DISTINCT set of KEY_FP_COL values — exact (a sorted list)
# up to _FP_SET_MAX distinct keys, a fixed-parameter bloom bitmap
# beyond that, absent past _FP_DISTINCT_CAP or on any read failure.
# An equality read can then prune files whose [min, max] RANGE is
# wide (interleaved writers make every file span the keyspace) but
# whose actual key SET misses every wanted id — min/max answers
# "could this range overlap", the fingerprint answers "is this key
# plausibly PRESENT". Blooms admit false positives (pruning just
# doesn't fire) and never false negatives (double hashing over a
# process-independent blake2b digest — Python's hash() is salted
# per process and would silently break cross-process pruning).
KEY_FP_COL = "series_id"
FP_KEY = "series_id~fp"  # '~' cannot appear in a parquet column name here
_FP_SET_MAX = 64
# Fixed bloom parameters for every fingerprint: equal parameters are
# what lets partition-grain rollups OR file blooms together instead
# of degrading to None. 8192 bits (1 KiB raw, ~1.4 KiB base64 in the
# monthly shard JSON) holds ~800 keys at ~1% false-positive with
# k=4; a saturated bloom (thousands of distinct keys in one file)
# just stops pruning — it cannot go wrong.
_FP_BLOOM_M = 8192
_FP_BLOOM_K = 4
_FP_DISTINCT_CAP = 65536

# Fixed-width timestamp key: lexicographic order == chronological
# order, and both the stats writer and the reader's bound
# normalization MUST use the same format or pruning silently breaks.
# (Documentation constant — formatting goes through format_ts_key,
# NOT strftime: Linux strftime('%Y') does not zero-pad years < 1000,
# which would break the lexicographic invariant — ADVICE r13.)
_TS_KEY_FMT = "%Y-%m-%d %H:%M:%S.%f"


def format_ts_key(dt) -> str:
    """Render a NAIVE datetime as the store's fixed-width UTC key with
    explicit zero padding on every component. ``strftime`` is not used
    because glibc does not zero-pad ``%Y`` below year 1000 ('999-…'
    would sort AFTER '2024-…' and silently mis-prune). datetime caps
    the year at 9999, so four digits are always fixed-width."""
    return (
        f"{dt.year:04d}-{dt.month:02d}-{dt.day:02d} "
        f"{dt.hour:02d}:{dt.minute:02d}:{dt.second:02d}.{dt.microsecond:06d}"
    )


def _stat_value(v):
    """Normalize one footer stat to a JSON-able, ORDER-PRESERVING
    string, or None to disqualify it. Strings pass within
    ``_STATS_MAX_LEN``. Timestamps (pyarrow hands back tz-aware
    datetimes for TIMESTAMP_MICROS columns) become fixed-width UTC
    strings whose lexicographic order is their chronological order.
    Anything else is disqualified — the manifest is JSON, and
    comparison across a JSON round-trip is only safe for strings we
    format ourselves."""
    import datetime as _dt

    if isinstance(v, str):
        return v if len(v) <= _STATS_MAX_LEN else None
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return format_ts_key(v)
    return None


def _fp_hash_pair(value: str) -> tuple[int, int]:
    """Two independent 64-bit hashes of ``value`` for double hashing
    (bit i = (h1 + i*h2) mod m). blake2b is keyless and identical in
    every process and on every platform — the fingerprint written by
    an executor must test identically on the driver. h2 is forced odd
    so the probe sequence cycles through all m positions."""
    import hashlib

    d = hashlib.blake2b(value.encode("utf-8"), digest_size=16).digest()
    return int.from_bytes(d[:8], "big"), int.from_bytes(d[8:], "big") | 1


def _bloom_insert(bits: bytearray, value: str, m: int, k: int) -> None:
    h1, h2 = _fp_hash_pair(value)
    for i in range(k):
        pos = (h1 + i * h2) % m
        bits[pos >> 3] |= 1 << (pos & 7)


def _bloom_from_values(values) -> dict:
    import base64

    bits = bytearray(_FP_BLOOM_M >> 3)
    for v in values:
        _bloom_insert(bits, v, _FP_BLOOM_M, _FP_BLOOM_K)
    return {
        "m": _FP_BLOOM_M,
        "k": _FP_BLOOM_K,
        "b64": base64.b64encode(bytes(bits)).decode("ascii"),
    }


def fp_from_values(values) -> "list | dict | None":
    """Fingerprint a collection of distinct key strings: a sorted
    exact list up to ``_FP_SET_MAX``, a bloom dict up to
    ``_FP_DISTINCT_CAP``, None (no fingerprint — reads keep the file)
    beyond that or when any value is not a string."""
    vals = [v for v in values if v is not None]
    if not all(isinstance(v, str) for v in vals):
        return None
    vals = sorted(set(vals))
    if not vals:
        return []
    if len(vals) <= _FP_SET_MAX:
        return vals
    if len(vals) <= _FP_DISTINCT_CAP:
        return _bloom_from_values(vals)
    return None


def fp_merge(a, b):
    """Associative, commutative combine of two fingerprints (the
    partition-grain rollup). None (unknown) is ABSORBING — a grain
    containing an unfingerprinted file cannot prune. Set+set unions
    (re-blooming past the set cap); blooms OR when their parameters
    match, else the merge degrades to None (parameter drift between
    store versions must disable pruning, never corrupt it)."""
    import base64

    if a is None or b is None:
        return None
    if isinstance(a, list) and isinstance(b, list):
        u = sorted(set(a) | set(b))
        return u if len(u) <= _FP_SET_MAX else _bloom_from_values(u)
    if isinstance(a, list):
        a, b = b, a  # normalize: a = bloom, b = list | bloom
    if isinstance(b, dict):
        if a.get("m") != b.get("m") or a.get("k") != b.get("k"):
            return None
        ab = bytes(
            x | y
            for x, y in zip(
                base64.b64decode(a["b64"]), base64.b64decode(b["b64"])
            )
        )
        return {"m": a["m"], "k": a["k"], "b64": base64.b64encode(ab).decode("ascii")}
    m, k = a.get("m"), a.get("k")
    if m != _FP_BLOOM_M or k != _FP_BLOOM_K:
        return None
    bits = bytearray(base64.b64decode(a["b64"]))
    for v in b:
        if not isinstance(v, str):
            return None
        _bloom_insert(bits, v, m, k)
    return {"m": m, "k": k, "b64": base64.b64encode(bytes(bits)).decode("ascii")}


def fp_might_contain(fp, value: str) -> bool:
    """Could a file with this fingerprint hold ``value``? Exact for
    the set form; one-sided for blooms (no false negatives). A
    malformed fingerprint answers True — degrade to no pruning."""
    import base64

    if isinstance(fp, list):
        return value in fp
    if not isinstance(fp, dict):
        return True
    try:
        m, k = fp["m"], fp["k"]
        bits = base64.b64decode(fp["b64"])
        h1, h2 = _fp_hash_pair(value)
        for i in range(k):
            pos = (h1 + i * h2) % m
            if not (bits[pos >> 3] >> (pos & 7)) & 1:
                return False
        return True
    except Exception:
        return True


def _file_key_fingerprint(pf, idx: dict) -> "list | dict | None":
    """Distinct-key fingerprint of one parquet file — the kernel's
    only non-footer read: it decodes the single KEY_FP_COL column
    (dictionary-encoded business keys; a few percent of the file at
    most). Nulls are dropped — an equality predicate never matches
    null. Any failure returns None: the file stays unprunable, never
    wrong."""
    if KEY_FP_COL not in idx:
        return None
    try:
        import pyarrow.compute as pc

        # use_threads=False deliberately (r14): this kernel runs either
        # serially on the driver (small commits — arrow's per-read
        # thread dispatch costs more than decoding one dictionary
        # column: measured 150 -> 81 ms over 30 warm files) or inside a
        # Spark task (one file per task — a nested arrow pool would
        # oversubscribe the executor's cores, which belong to Spark's
        # own task parallelism).
        col = pf.read(columns=[KEY_FP_COL], use_threads=False).column(0)
        vals = pc.unique(pc.drop_null(col.combine_chunks())).to_pylist()
        return fp_from_values(vals)
    except Exception:
        return None


def _file_stats(path: str) -> dict:
    """Footer min/max of ONE parquet file: ``{col: [min, max] | None}``
    over STATS_COLS, plus the file's distinct-key fingerprint under
    ``FP_KEY`` (round 14 — see the parameter block above). ``None``
    marks the column untrustworthy in this file (missing from the
    schema, no row-group stats, or a value the JSON manifest can't
    compare safely). An unreadable footer returns all-None (every
    column disqualified); a zero-row-group file returns ``{}`` (the
    merge identity — it contributes nothing and disqualifies
    nothing). This is the shared kernel of the serial reader and the
    parallelized commit job, so the two cannot drift."""
    import pyarrow.parquet as pq

    bad = {c: None for c in STATS_COLS}
    bad[FP_KEY] = None
    try:
        pf = pq.ParquetFile(path)
        md = pf.metadata
    except Exception:
        return bad
    if md.num_row_groups == 0:
        return {}
    idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
    out: dict = {}
    for c in STATS_COLS:
        j = idx.get(c)
        if j is None:
            out[c] = None
            continue
        lo = hi = None
        ok = True
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(j).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            mn, mx = _stat_value(st.min), _stat_value(st.max)
            if mn is None or mx is None:
                ok = False
                break
            lo = mn if lo is None else min(lo, mn)
            hi = mx if hi is None else max(hi, mx)
        out[c] = [lo, hi] if ok and lo is not None else None
    out[FP_KEY] = _file_key_fingerprint(pf, idx)
    return out
