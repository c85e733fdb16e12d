"""Keyed MERGE writer — set-oriented re-expression of the reference's
entity CRUD lifecycle (SURVEY.md §2.9).

The reference's write path is one synchronous REST call per row
(otrrentetl/storage/azurestoragewrapper.py:237-258); here every verb
is a single distributed DataFrame transformation over a keyed table:

- ``upsert_replace``  ≈ insert_or_replace_entity (azurestoragewrapper.py:251-258)
- ``upsert_merge``    ≈ insert_or_merge_entity — only *non-default*
  incoming columns overwrite (azurestoragewrapper.py:183-184,237-249;
  merge rule on read azurestoragewrapper.py:227-231)
- ``delete_keys``     ≈ delete_entity (azurestoragewrapper.py:260-267)
- ``rekey``           ≈ moveto/copyto partition promotion
  (azurestoragewrapper.py:269-317, used otrrentetl/server/etl.py:147-149)

Scale notes: all verbs are equi-joins on the composite key, so they
shuffle-partition cleanly; at 100 TB the old side stays partitioned
parquet and only touched partitions rewrite (append + atomic snapshot
manifest flip in ``KeyedParquetTable`` — see its class docstring).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from otrrentetl_spark.session import local_relation
from otrrentetl_spark.table.store import store_for

DEFAULT_KEYS = ("PartitionKey", "RowKey")

# reconstructed-manifest cache (see the layout note): path → the
# CURRENT {version, files, stats}, revalidated against the pointer's
# version on every read and folded forward through tail deltas — a
# polling reader or a verb chain pays one small JSON read per access
# instead of re-parsing an O(table) manifest
import threading as _threading

_STATE_CACHE: dict[str, dict] = {}
_STATE_CACHE_LOCK = _threading.Lock()
_STATE_CACHE_MAX = 8
# "don't validate lineage" sentinel for _state_at callers that have
# not read the pointer (time-travel folds) — distinct from None,
# which is a real lineage value on pre-lineage pointers
_ANY_LINEAGE = object()
# DRIVER-SIZED VERBS (KeyedParquetTable class docstring): an upsert or
# delete whose batch rows plus the rows of the files it rewrites stay
# within this bound merges on the driver in pyarrow, not in Spark jobs.
# Measured on 4 cores with a 64-d vector column, the Arrow merge beat
# the Spark one up to 300k rows (upsert 0.29 vs 0.72 s at 100k rows in
# one partition; 6.2 vs 9.5 s at 300k rows over 256 partitions) and
# met it near 1M, so the bound sits well below the crossover and caps
# what the driver holds (~60 MB at 100k such rows)
_ARROW_MAX_ROWS = 100_000
# pinned key types the driver-sized paths bisect, split and join on
_ARROW_KEY_TYPES = ("string", "tinyint", "smallint", "int", "bigint")


from contextlib import contextmanager as _contextmanager

# session UUID → [probes inside _no_aqe, AQE value saved by the first]
_NO_AQE_HOLDS: dict[str, list] = {}
_NO_AQE_LOCK = _threading.Lock()


@_contextmanager
def _no_aqe(sess):
    """Plan one BOUNDED decision probe without AQE (r14, guide §1.2).

    The commit-protocol probes (partition-key tally, COW range probe)
    end in a single-partition global aggregate whose output is O(touched
    files) by construction — AQE's per-query-stage materialization turns
    each such collect into 2-4 sequential Spark jobs (one per exchange)
    purely to coalesce shuffles that are already minimal, and at the
    ~70-160 ms/job scheduler floor that overhead IS the lifecycle verbs'
    wall. Scope: only the probes that produce driver-side decisions;
    the data-moving plans (merge writes, CDC diffs) keep AQE.

    The conf is session-global, so overlapping probes on one session
    share one hold: the first to enter saves and disables AQE, the
    last to leave restores the saved value. Other queries planned on
    the same session while a probe runs also see AQE off."""
    key = sess._jsparkSession.sessionUUID()
    conf = sess.conf
    with _NO_AQE_LOCK:
        hold = _NO_AQE_HOLDS.get(key)
        if hold is None:
            prev = conf.get("spark.sql.adaptive.enabled", "true")
            conf.set("spark.sql.adaptive.enabled", "false")
            hold = _NO_AQE_HOLDS[key] = [0, prev]
        hold[0] += 1
    try:
        yield
    finally:
        with _NO_AQE_LOCK:
            hold[0] -= 1
            if hold[0] == 0:
                del _NO_AQE_HOLDS[key]
                conf.set("spark.sql.adaptive.enabled", hold[1])


def _nullable(dt: T.DataType) -> T.DataType:
    """``dt`` with every level nullable, as a file-source read types
    its columns (Spark's ``asNullable``)."""
    if isinstance(dt, T.StructType):
        return T.StructType([
            T.StructField(f.name, _nullable(f.dataType), True, f.metadata)
            for f in dt.fields
        ])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def _conform(t, schema):
    """Arrow table ``t`` cast column by column to ``schema`` (a pinned
    schema's Arrow form), a column ``t`` lacks as NULL — what the
    pinned Spark read gives for a column a file predates."""
    import pyarrow as pa

    return pa.table(
        [
            t[f.name].cast(f.type) if f.name in t.column_names
            else pa.nulls(t.num_rows, f.type)
            for f in schema
        ],
        schema=schema,
    )


def _same_values(a, b):
    """Spark's ``eqNullSafe`` of two equally long Arrow arrays, row by
    row, as a numpy bool array: NULL equals NULL, NaN equals NaN,
    -0.0 equals 0.0, and arrays compare element by element, NULL
    elements included. Atomic types and arrays of them only."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(a, pa.ChunkedArray):
        a, b = a.combine_chunks(), b.combine_chunks()

    def bools(x):
        return pc.fill_null(x, False).to_numpy(zero_copy_only=False)

    both_null = bools(pc.and_(pc.is_null(a), pc.is_null(b)))
    if pa.types.is_list(a.type):
        # rows with two non-NULL lists of one length compare their
        # elements; a row with any differing element differs
        sel = np.flatnonzero(bools(pc.equal(
            pc.list_value_length(a), pc.list_value_length(b)
        )))
        eq = np.zeros(len(a), bool)
        eq[sel] = True
        sa, sb = a.take(sel), b.take(sel)
        differ = ~_same_values(pc.list_flatten(sa), pc.list_flatten(sb))
        eq[sel[pc.list_parent_indices(sa).to_numpy()[differ]]] = False
        return eq | both_null
    eq = pc.equal(a, b)
    if pa.types.is_floating(a.type):
        eq = pc.or_kleene(eq, pc.and_kleene(pc.is_nan(a), pc.is_nan(b)))
    return bools(eq) | both_null


def _apply_manifest_delta(
    files: list, stats: dict, delta: dict
) -> tuple[list, dict]:
    """Fold ONE per-commit delta manifest into (files, stats) —
    mutates and returns the passed containers (callers own copies)."""
    rm = set(delta.get("remove", ()))
    if rm:
        files = [f for f in files if f not in rm]
        for f in rm:
            stats.pop(f, None)
    files += list(delta.get("add", ()))
    stats.update(delta.get("add_stats") or {})
    return files, stats


def _murmur3_int(x: int, seed: int = 42) -> int:
    """Murmur3 x86_32 of ONE 4-byte int block — bit-identical to
    Spark's ``Murmur3Hash`` over an IntegerType column with the
    default seed 42 (``F.hash`` / ``HashPartitioning``), verified
    against ``F.hash`` in tests. Lets the driver PRE-IMAGE hash
    partitioning: pick an int whose hash lands a row in exactly the
    shuffle partition we want."""
    m = 0xFFFFFFFF
    k1 = x & m
    k1 = (k1 * 0xCC9E2D51) & m
    k1 = ((k1 << 15) | (k1 >> 17)) & m
    k1 = (k1 * 0x1B873593) & m
    h1 = seed & m
    h1 ^= k1
    h1 = ((h1 << 13) | (h1 >> 19)) & m
    h1 = (h1 * 5 + 0xE6546B64) & m
    h1 ^= 4  # total bytes hashed
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & m
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & m
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


def _hash_slot_preimages(n_slots: int) -> list[int]:
    """``xs`` such that ``pmod(hash(xs[g]), n_slots) == g`` for every
    slot g — repartitioning an int column holding ``xs[g]`` into
    ``n_slots`` partitions places slot g's rows in shuffle partition
    g EXACTLY (no collisions, no empties). Coupon-collector scan:
    ~n·ln(n) murmur evaluations, driver-side, microseconds at the
    10³-slot maintenance scale and ~1 s at 10⁵ slots."""
    xs: dict[int, int] = {}
    x = 0
    while len(xs) < n_slots:
        # Python's % with a positive modulus is already non-negative
        # (pmod semantics), even for a negative signed hash
        g = _murmur3_int(x) % n_slots
        if g not in xs:
            xs[g] = x
        x += 1
    return [xs[g] for g in range(n_slots)]


def _check_aligned(old: DataFrame, new: DataFrame, keys: Sequence[str]) -> None:
    missing = set(keys) - set(old.columns) | set(keys) - set(new.columns)
    if missing:
        raise ValueError(f"key columns missing: {sorted(missing)}")


def upsert_replace(
    old: DataFrame, new: DataFrame, keys: Sequence[str] = DEFAULT_KEYS
) -> DataFrame:
    """Whole-row upsert: incoming rows replace same-key rows entirely.

    ``new ∪ (old ⟕̸ new)`` — the left_anti keeps only unmatched old rows.
    The incoming side is deduplicated on the key first (last-write-wins
    is meaningless in a set; the reference achieves per-row uniqueness
    by keyed PUTs, A3 in SURVEY.md §2.6).

    Schema evolution mirrors the reference's schemaless Azure Table
    entities (tablemodels.py properties are per-row): an incoming
    batch may ADD columns (old rows read back null there) or OMIT
    columns the table already has (incoming rows get null) —
    ``allowMissingColumns`` on both union sides.
    """
    _check_aligned(old, new, keys)
    new_deduped = new.dropDuplicates(list(keys))
    # NULL-SAFE key matching (r7): a plain equi-anti-join never
    # matches a NULL key component (three-valued logic), so an old
    # row with a NULL key would survive alongside its replacement as
    # a duplicate — the same hazard delete_keys already guards.
    # dropDuplicates treats NULLs as equal, keeping both sides
    # consistent; for non-null keys eqNullSafe ≡ '='.
    o = old.alias("__ur_o")
    nn = new_deduped.alias("__ur_n")
    cond = None
    for k in keys:
        c = F.col(f"__ur_o.{k}").eqNullSafe(F.col(f"__ur_n.{k}"))
        cond = c if cond is None else cond & c
    return new_deduped.unionByName(
        o.join(nn, cond, "left_anti"), allowMissingColumns=True
    )


def upsert_merge(
    old: DataFrame,
    new: DataFrame,
    defaults: Mapping[str, object],
    keys: Sequence[str] = DEFAULT_KEYS,
) -> DataFrame:
    """Partial-column upsert: an incoming column overwrites only when it
    differs from the declared default (i.e. it was actually set).

    Reference rule: ``__image__`` serializes only non-default columns
    (azurestoragewrapper.py:183-184), and Azure's merge leaves other
    columns untouched. Equivalently, per column:

        merged = CASE WHEN new_is_present AND new != default THEN new
                      WHEN old_is_present THEN old
                      ELSE new END        -- new row, default value
    """
    _check_aligned(old, new, keys)
    if set(old.columns) != set(new.columns):
        raise ValueError("upsert_merge requires identical schemas")
    new_d = new.dropDuplicates(list(keys))
    # presence markers survive the outer join even when all data cols are NULL
    o = old.withColumn("__old_present", F.lit(True)).alias("o")
    n = new_d.withColumn("__new_present", F.lit(True)).alias("n")
    # null-safe key matching, like upsert_replace/delete_keys (r7):
    # USING-style list joins never match NULL key components, which
    # would emit a NULL-keyed row twice (old + new) instead of merged
    cond = None
    for k in keys:
        c = F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}"))
        cond = c if cond is None else cond & c
    joined = o.join(n, cond, "full_outer")

    cols = [
        F.coalesce(F.col(f"o.{k}"), F.col(f"n.{k}")).alias(k) for k in keys
    ]
    for c in old.columns:
        if c in keys:
            continue
        new_c, old_c = F.col(f"n.{c}"), F.col(f"o.{c}")
        if c in defaults:
            set_by_caller = new_c.isNotNull() & (new_c != F.lit(defaults[c]))
        else:
            set_by_caller = new_c.isNotNull()
        merged = (
            F.when(F.col("__new_present").isNotNull() & set_by_caller, new_c)
            .when(F.col("__old_present").isNotNull(), old_c)
            .otherwise(new_c)
        )
        cols.append(merged.alias(c))
    return joined.select(*cols)


def delete_keys(
    old: DataFrame, deletes: DataFrame, keys: Sequence[str] = DEFAULT_KEYS
) -> DataFrame:
    """K4: anti-join delete — drop every old row whose key appears in
    ``deletes`` (which may carry extra columns; only keys are used).

    NULL-SAFE key matching: a plain equi-anti-join can never match a
    NULL key component (three-valued logic), which would make rows
    with NULL keys undeletable (code-review r4). For non-null keys
    ``eqNullSafe`` is identical to ``=``, so oracle semantics are
    unchanged."""
    o = old.alias("__dk_o")
    d = deletes.select(*keys).distinct().alias("__dk_d")
    cond = None
    for k in keys:
        c = F.col(f"__dk_o.{k}").eqNullSafe(F.col(f"__dk_d.{k}"))
        cond = c if cond is None else cond & c
    return o.join(d, cond, "left_anti")


def rekey(
    table: DataFrame,
    selected: DataFrame,
    new_values: Mapping[str, object],
    keys: Sequence[str] = DEFAULT_KEYS,
    move: bool = True,
) -> DataFrame:
    """U6 moveto/copyto: re-key selected rows (e.g. promote recordings
    into the 'top' partition, otrrentetl/server/etl.py:147-149).

    ``selected`` identifies rows by key; ``new_values`` assigns literal
    new key-column values. move=False keeps the originals (copyto).
    Key matching is null-safe, like delete_keys.
    """
    t = table.alias("__rk_t")
    s = selected.select(*keys).distinct().alias("__rk_s")
    cond = None
    for k in keys:
        c = F.col(f"__rk_t.{k}").eqNullSafe(F.col(f"__rk_s.{k}"))
        cond = c if cond is None else cond & c
    picked = t.join(s, cond, "left_semi")
    moved = picked
    for k, v in new_values.items():
        moved = moved.withColumn(k, F.lit(v))
    base = delete_keys(table, selected, keys) if move else table
    return upsert_replace(base, moved, keys)


def _locked(fn):
    """Run a KeyedParquetTable mutating verb under the table's
    single-writer lock (see the concurrency invariant below)."""
    import functools

    @functools.wraps(fn)
    def wrapper(self, *args, **kwargs):
        with self._write_lock():
            return fn(self, *args, **kwargs)

    return wrapper


class KeyedParquetTable:
    """A keyed table persisted as parquet partitioned by PartitionKey.

    Physical layout convention (SURVEY.md §1.1/§4): PartitionKey is the
    parquet partition column, so key-equality filters become partition
    pruning — the engine-side equivalent of Azure's partition-scoped
    queries. Mutations only rewrite the partitions they touch
    (critical at 100 TB: an idempotent daily re-ingest rewrites one
    date partition, not the table).

    A TABLE IS ITS MANIFEST: exactly the live files and the pinned
    schema its format-2 ``_SNAPSHOT`` pointer names (layout below).
    With no pointer and no ``_history`` there is no table — ``read()``
    raises, ``exists()`` is False, and the first write creates it; a
    data file in the directory that no manifest names is an orphan,
    never a row, and the next checkpoint commit reaps it. A pointer
    that is missing or unreadable while ``_history`` holds a version
    is a torn flip: every verb retries briefly, then refuses. A
    pointer of any other format is refused.

    SNAPSHOT PROTOCOL (r6 verdict item 7): every mutating verb APPENDS
    new files (never rewriting in place), then atomically flips the
    ``_SNAPSHOT`` pointer under the single-writer lock, then deletes
    files the flip superseded once they are older than
    ``retain_stale_s``. ``read()`` plans over the manifest's file list
    (``basePath`` keeps partition-column discovery), so a reader NEVER
    observes partition A post-write and partition B pre-write: it sees
    the file set of exactly one committed version. With
    ``retain_stale_s > 0``, readers that planned before a flip also
    keep their input files on disk for the retention window
    (Delta/Iceberg-style time-travel safety); the 0 default keeps the
    on-disk layout byte-identical to the manifest for test
    determinism. The pointer flip is os.replace on local disk and
    FileContext.rename(OVERWRITE) on HDFS — both atomic; stores
    without an atomic overwrite-rename fall back to delete+rename,
    whose pointer-missing window the torn-flip retry covers (object
    stores without atomic rename at all need an external coordinator
    — the caveat every file-based table commit protocol carries).

    A fully-emptied table (every row deleted) reads as a zero-row
    frame typed from the pinned schema, with the columns in the same
    order as a non-empty read.

    DRIVER-SIZED VERBS: at the batch sizes an ETL cycle or an index
    refresh writes, a verb's Spark jobs are almost all scheduler floor
    (~70-160 ms each), not data work. So ``upsert_replace_partitions``
    and ``delete_by_keys`` share one body that branches once, at the
    write step. It takes the ARROW path when the table is on a local
    path with two string/integral keys, the batch carries exactly the
    pinned columns and types, and the batch rows plus the manifest
    row counts of the files to rewrite are at most ``_ARROW_MAX_ROWS``
    (every such file having stats). The pinned batch is collected
    once (``toArrow``) and handed to ``_arrow_merge``: the COW split
    bisects its keys against the footer bounds in Python, and the
    touched partitions merge in pyarrow on the driver — 2 Spark jobs
    per call (the routing aggregate and the collect). The vector
    index's refresh fold writes through the same ``_arrow_merge``.
    ``changes`` reads on Arrow under the same bound, in 0 jobs, when
    both versions carry one pin. Everything else — larger batches,
    non-local stores, schema drift, a rewrite file without stats —
    and ``overwrite``, ``compact`` and the first write into an empty
    table take the SPARK path. Both paths commit through the same
    ``_commit_snapshot``, agree row for row, and write files either
    path reads (the Arrow writer casts every column to the pinned
    schema's Arrow type; see ``_arrow_write`` for why the timestamp
    cast matters).
    """

    def __init__(self, spark, path: str, keys: Sequence[str] = DEFAULT_KEYS):
        self.spark = spark
        self.path = path
        self.keys = tuple(keys)
        # local disk or Hadoop FileSystem, by the path's scheme
        self._store = store_for(spark, path)
        # seconds a superseded file stays on disk after its manifest
        # flip (protects in-flight readers); 0 = delete at commit
        self.retain_stale_s: float = 0.0
        # exact-count compact: a partition whose live bytes exceed
        # this is auto-diverted from the one-window-task funnel to a
        # sampled range sub-pass (r12 verdict item 3) — see
        # _compact_partitions_batched. 1 GiB default: a single task
        # sorting ≤1 GiB of parquet is cheap; beyond that the funnel's
        # single sort task starts to dominate the pass's wall.
        self.compact_funnel_max_bytes: int = 1 << 30
        # telemetry for the last compact pass (tests + monitors)
        self.last_compact_stats: dict = {}
        # the write-lock token this object currently holds (None when
        # unlocked) — re-verified before every metadata write
        self._lock_token: str | None = None

    # -------------------------------------------- single-writer lock
    # CONCURRENCY INVARIANT (r5 verdict item 3): the table's mutating
    # verbs (delete_by_keys, compact, upsert_replace_partitions) are
    # read-modify-write cycles over shared partition directories, and
    # dynamic partition overwrite is last-writer-wins — two unlocked
    # concurrent upserts interleave and silently drop one side's rows
    # (and, same-session, race the partitionOverwriteMode conf toggle,
    # which can degrade a write to a STATIC full-table overwrite). So
    # every mutating verb runs under a table-scoped SINGLE-WRITER
    # advisory lock: an atomically created `_WRITE_LOCK` file at the
    # table root. Readers are never blocked (parquet readers see the
    # pre- or post-write file set; per-partition replacement itself is
    # atomic at the directory level). A crashed writer's lock expires
    # after ``stale_s`` and is broken by the next writer. Atomicity of
    # acquisition relies on create-fails-if-exists — exact on local
    # disk (O_EXCL) and HDFS; object stores without atomic
    # create-if-absent need an external coordinator instead (the same
    # caveat every file-based table commit protocol carries).
    # The lock is a SIBLING of the table directory (`<path>._WRITE_LOCK`),
    # not inside it: a full-table overwrite deletes the directory's
    # contents, and an in-dir lock would vanish mid-write, silently
    # releasing a held lock.
    #
    # STALE-LOCK BREAKING is BY IDENTITY (r6 verdict item 2): every
    # lock file carries its writer's unique token, and a lock is only
    # ever deleted by a party that has just re-read that token and
    # matched it against the token it expects (its own on release, the
    # observed-stale one on break). Breakers additionally serialize
    # through a short-lived breaker meta-lock (`<lock>.BREAK`), so two
    # waiters that both observe a stale lock cannot interleave
    # (A breaks → B breaks A's successor). A writer whose mutation ran
    # past ``stale_s`` and had its lock broken finds a foreign token at
    # release time and leaves the new holder's lock alone. The residual
    # window is the microseconds between _unlock's internal read and
    # delete — closing it fully needs a compare-and-swap primitive no
    # plain filesystem offers (the same caveat every file-based commit
    # protocol carries).
    _LOCK_SUFFIX = "._WRITE_LOCK"
    _BREAK_SUFFIX = ".BREAK"

    def _lock_uri(self, suffix: str | None = None) -> str:
        return self.path.rstrip("/") + (suffix or self._LOCK_SUFFIX)

    def _try_lock(self, token: str, suffix: str | None = None) -> bool:
        return self._store.create_exclusive(
            self._lock_uri(suffix), token.encode()
        )

    def _read_lock_token(self, suffix: str | None = None) -> str | None:
        """Current lock file's writer token, or None if the lock is
        missing/unreadable. Identity source for break-by-identity."""
        data = self._store.read_bytes(self._lock_uri(suffix), 4096)
        return None if data is None else data.decode("utf-8", "replace")

    def _unlock(
        self,
        expected_token: str | None = None,
        suffix: str | None = None,
    ) -> None:
        """Delete the lock file. With ``expected_token``, delete ONLY
        if the file still carries that token (break-by-identity /
        release-by-identity) — a foreign token means another writer
        legitimately holds the lock now, so leave it alone."""
        if expected_token is not None:
            if self._read_lock_token(suffix) != expected_token:
                return
        self._store.delete(self._lock_uri(suffix))

    def _break_stale(
        self,
        stale_s: float,
        break_timeout_s: float = 30.0,
        suffix: str | None = None,
    ):
        """Break a crashed writer's stale lock, safely under
        contention: breakers serialize through a short-lived breaker
        meta-lock, and the victim is re-verified (still present, still
        older than ``stale_s``) INSIDE the breaker critical section
        before a token-matched delete. This closes the r6-verdict
        interleaving (A observes stale → B breaks + acquires fresh →
        A's pending delete must not hit B's fresh lock: A either loses
        the breaker race and re-verifies, or wins it and B waits)."""
        import time
        import uuid

        brk = (suffix or self._LOCK_SUFFIX) + self._BREAK_SUFFIX
        btoken = uuid.uuid4().hex
        bdeadline = time.monotonic() + break_timeout_s
        while not self._try_lock(btoken, brk):
            bage = self._store.age_s(self._lock_uri(brk))
            if bage is not None and bage > 15.0:
                # breaker crashed mid-break (its critical section is
                # milliseconds): token-matched removal, then re-race
                dead = self._read_lock_token(brk)
                if dead is not None:
                    self._unlock(expected_token=dead, suffix=brk)
                continue
            if time.monotonic() > bdeadline:
                return  # give up; outer loop re-polls or times out
            time.sleep(0.05)
        try:
            victim = self._read_lock_token(suffix)
            age = self._store.age_s(self._lock_uri(suffix))
            if victim is not None and age is not None and age > stale_s:
                self._unlock(expected_token=victim, suffix=suffix)
        finally:
            self._unlock(expected_token=btoken, suffix=brk)

    @_contextmanager
    def _held(
        self,
        suffix: str | None = None,
        timeout_s: float = 300.0,
        stale_s: float = 3600.0,
    ):
        """Context manager: acquire the lock at ``suffix`` (polling,
        breaking locks older than ``stale_s`` by identity — see the
        class-level CONCURRENCY INVARIANT note), yield its token,
        release on exit. Release is token-verified: if this holder's
        lock was broken for staleness meanwhile, the successor's lock
        is left untouched. The deadline is checked after every break
        too: an old lock whose token cannot be read is never deleted,
        and must not spin this loop forever."""
        import time
        import uuid

        token = uuid.uuid4().hex
        deadline = time.monotonic() + timeout_s
        while not self._try_lock(token, suffix):
            age = self._store.age_s(self._lock_uri(suffix))
            if age is not None and age > stale_s:
                # crashed holder: break by identity and re-race
                self._break_stale(stale_s, suffix=suffix)
            if time.monotonic() > deadline:
                raise TimeoutError(
                    f"timed out waiting for lock {self._lock_uri(suffix)}"
                )
            time.sleep(0.05)
        try:
            yield token
        finally:
            self._unlock(expected_token=token, suffix=suffix)

    @_contextmanager
    def _write_lock(self, timeout_s: float = 300.0, stale_s: float = 3600.0):
        """The table's single-writer lock (:meth:`_held` at the default
        suffix); its token is what :meth:`_assert_lock_fresh` checks."""
        with self._held(None, timeout_s, stale_s) as token:
            self._lock_token = token
            try:
                yield
            finally:
                self._lock_token = None

    def _assert_lock_fresh(self) -> None:
        """Fence the manifest flip against a broken lock (r11 verdict
        item 3): a writer whose mutation ran past ``stale_s`` may have
        had its lock broken and a successor may have committed — its
        own flip would then clobber the successor's version. Re-read
        the lock token immediately before any metadata write and abort
        on mismatch; the aborted verb's data files become orphans the
        next checkpoint commit / vacuum reaps. No-op when the caller
        holds no lock (read paths, external maintenance scripts)."""
        tok = getattr(self, "_lock_token", None)
        if tok is None:
            return
        if self._read_lock_token() != tok:
            raise RuntimeError(
                f"write lock on {self.path} was broken as stale while"
                " this mutation ran (another writer holds it now) —"
                " aborting before the manifest flip; this verb's work"
                " files are orphans, reaped at the next checkpoint"
                " commit or vacuum()"
            )

    # ------------------------------------------- snapshot manifest
    #
    # MANIFEST LAYOUT (format 2, the Delta-log shape): no commit
    # writes anything O(table), so commit metadata cost follows the
    # batch, not the table.
    #
    #   _SNAPSHOT                  small POINTER, atomically flipped
    #                              per commit: {format:2, version,
    #                              lineage, checkpoints:[...], retired,
    #                              n_files, table_schema} — O(retired),
    #                              not O(files)
    #   _history/v{N}.json         per-commit DELTA: {add, remove,
    #                              add_stats, ts, op} — O(batch)
    #   _history/ckpt_v{N}.json    full compacted state {files, stats}
    #                              written every _CKPT_EVERY commits,
    #                              at the first commit, on big
    #                              rewrites (delta ~ table anyway) and
    #                              when the table empties
    #
    # Readers reconstruct state as checkpoint + tail deltas (≤
    # _CKPT_EVERY folds), cached per table path and revalidated
    # against the pointer's version on every read — so a steady
    # stream of mutations costs one small JSON read per verb, and a
    # cold reader at most one checkpoint parse. Every read of the
    # pointer goes through _read_pointer, which refuses torn flips
    # and pointers of any other format.
    _SNAPSHOT_NAME = "_SNAPSHOT"
    _CKPT_EVERY = 16
    # batched-compact task cap: slots stride across at most this many
    # shuffle tasks (unless one partition alone wants more files) —
    # bounds per-task commit overhead at 10⁴⁺-slot maintenance passes
    _COMPACT_MAX_TASKS = 2048
    # minimum age of a same-version delta-doc leftover before the
    # commit path may reclaim (delete + re-create) it — younger docs
    # belong to a LIVE racing writer, not a crashed one (r12 verdict
    # item 2; see _commit_snapshot's FileExistsError handler)
    _RECLAIM_MIN_AGE_S = 30.0

    def _snapshot_uri(self) -> str:
        # INSIDE the table directory (unlike the lock): the manifest
        # describes the directory's contents and all writes are
        # appends — nothing ever deletes the directory wholesale.
        return self.path.rstrip("/") + "/" + self._SNAPSHOT_NAME

    def _ckpt_uri(self, version: int) -> str:
        return f"{self._history_dir_uri()}/ckpt_v{int(version)}.json"

    def _read_pointer(self) -> dict | None:
        """The ``_SNAPSHOT`` pointer, or None when there is no table
        (no pointer and no ``_history``). Every read of the pointer
        comes through here.

        A pointer missing or unreadable while ``_history`` holds a
        version is a torn flip (delete+rename on stores without
        rename-overwrite): retry briefly — the writer's rename
        completes in microseconds — then refuse rather than guess at
        the table. A pointer that is not format 2 with a pinned
        ``table_schema`` is refused."""
        import time

        doc = self._read_json(self._snapshot_uri())
        if doc is None and self._has_history():
            for _ in range(20):
                time.sleep(0.05)
                doc = self._read_json(self._snapshot_uri())
                if doc is not None:
                    break
            else:
                raise ValueError(
                    f"table {self.path} has committed history but no"
                    " _SNAPSHOT manifest — torn or deleted manifest;"
                    " refusing to read or write it"
                )
        if doc is not None and (
            doc.get("format") != 2 or not doc.get("table_schema")
        ):
            raise ValueError(
                f"table {self.path}: _SNAPSHOT is not a format-2"
                " pointer with a pinned table_schema — refusing it"
            )
        return doc

    def _read_snapshot(self) -> dict | None:
        """The CURRENT committed state ({version, files, retired,
        stats, checkpoints, table_schema, lineage}), or None when there
        is no table. files/stats reconstruct from the newest
        checkpoint plus tail deltas (cached per path, revalidated
        against the pointer's version — see the layout note above).
        The returned ``files`` / ``retired`` lists are fresh copies;
        ``stats`` is shared with the cache and must be treated
        read-only."""
        doc = self._read_pointer()
        if doc is None:
            return None
        version = int(doc["version"])
        state = self._state_at(
            version, cache=True, lineage=doc.get("lineage")
        )
        return {
            "version": version,
            "files": list(state["files"]),
            "retired": [list(x) for x in doc["retired"]],
            "stats": state["stats"],
            "checkpoints": list(doc["checkpoints"]),
            "table_schema": doc["table_schema"],
            "lineage": doc.get("lineage"),
        }

    def _require_snapshot(self) -> dict:
        """:meth:`_read_snapshot` for callers that need a table."""
        snap = self._read_snapshot()
        if snap is None:
            raise self._no_table()
        return snap

    def _no_table(self) -> ValueError:
        return ValueError(
            f"no keyed table at {self.path}: it has no _SNAPSHOT"
            " pointer and no _history"
        )

    def _state_at(
        self, version: int, cache: bool = False, lineage=_ANY_LINEAGE
    ) -> dict:
        """{files, stats} at ``version`` — from the per-path cache
        (exact hit, or incremental delta fold forward from a cached
        older state), else a full checkpoint+deltas reconstruction.
        ``cache=True`` stores the result (only the CURRENT version is
        ever cached; time-travel reconstructions pass False).

        ``lineage`` (ADVICE r11): a (path, version) pair alone cannot
        tell a rebuilt table from the one that populated the cache —
        delete + rebuild at the same path by another process can
        collide on an exact version number and silently serve the old
        lineage's file list. Callers that read the pointer pass its
        lineage token and the cache validates it; the sentinel default
        means "cannot validate", and those callers (time-travel folds,
        history(), expire horizons — all rare metadata paths) BYPASS
        the cache entirely and reconstruct from disk, because serving
        an exact-version hit from a dead lineage would be exactly the
        rebuilt-table bug the token exists to prevent."""
        cached = None
        if lineage is not _ANY_LINEAGE:
            with _STATE_CACHE_LOCK:
                cached = _STATE_CACHE.get(self.path)
                if cached is not None:
                    # LRU, not insertion-FIFO: a hot table must not be
                    # evicted while cold ones stay (move-to-end on hit)
                    _STATE_CACHE.pop(self.path, None)
                    _STATE_CACHE[self.path] = cached
            if cached is not None and cached.get("lineage") != lineage:
                cached = None  # different lineage: never trust it
        if cached is not None and cached["version"] == version:
            return cached
        state = None
        if cached is not None and cached["version"] < version:
            # fold forward from the cached state through the tail
            # deltas — the steady-state path for a polling reader
            files = list(cached["files"])
            stats = dict(cached["stats"])
            ok = True
            for v in range(cached["version"] + 1, version + 1):
                d = self._read_json(self._history_uri(v))
                if d is None:
                    ok = False
                    break
                files, stats = _apply_manifest_delta(files, stats, d)
            if ok:
                state = {"version": version, "files": files, "stats": stats}
        if state is None:
            state = self._fold_state(version)
        if cache:
            if lineage is not _ANY_LINEAGE:
                state["lineage"] = lineage
            with _STATE_CACHE_LOCK:
                _STATE_CACHE.pop(self.path, None)  # move-to-end
                _STATE_CACHE[self.path] = state
                while len(_STATE_CACHE) > _STATE_CACHE_MAX:
                    _STATE_CACHE.pop(next(iter(_STATE_CACHE)))
        return state

    def _fold_state(self, version: int) -> dict:
        """Full reconstruction of {files, stats} at ``version``: the
        newest pointer-referenced checkpoint ≤ version (or the empty
        table) folded forward through the deltas."""
        base_v, files, stats = 0, [], {}
        for c in sorted(self._read_pointer()["checkpoints"], reverse=True):
            if c <= version:
                ck = self._read_json(self._ckpt_uri(c))
                if ck is not None:
                    base_v = int(c)
                    files = list(ck["files"])
                    stats = dict(ck.get("stats") or {})
                    break
        for v in range(base_v + 1, version + 1):
            d = self._read_json(self._history_uri(v))
            if d is None:
                raise ValueError(
                    f"version {version} of {self.path} is not"
                    f" reconstructable: history v{v} was expired"
                    " (expire_history) — raise keep_last to keep"
                    " older versions resolvable"
                )
            files, stats = _apply_manifest_delta(files, stats, d)
        return {"version": version, "files": files, "stats": stats}

    def _read_json(self, uri: str) -> dict | None:
        import json

        data = self._store.read_bytes(uri)
        try:
            return None if data is None else json.loads(data.decode())
        except ValueError:  # torn or not JSON
            return None

    def _write_snapshot_atomic(self, doc: dict) -> None:
        # the pointer flip IS the commit point — last-moment fence
        # against a lock broken mid-mutation (see _assert_lock_fresh)
        self._assert_lock_fresh()
        self._write_json_atomic(self._snapshot_uri(), doc)

    def _write_json_atomic(
        self, uri: str, doc: dict, exclusive: bool = False
    ) -> None:
        """Write ``doc`` so readers see complete-or-absent, never torn.

        ``exclusive=True`` (r12 verdict item 2) additionally makes the
        write CREATE-EXCLUSIVE: it raises ``FileExistsError`` if the
        target already exists instead of replacing it. The delta-doc
        commit uses this as its arbitration point — a writer whose
        stale lock was broken can no longer clobber a successor's
        committed delta during the fence→write race window; its
        delayed write FAILS. How each store provides it:
        ``table/store.py``; what each backend must provide: BASELINE.md
        "Commit protocol store requirements"."""
        import json

        self._store.write_atomic(uri, json.dumps(doc).encode(), exclusive)

    def _list_data_files(self, dirs: set[str] | None = None) -> list[str]:
        """Relative paths of every data file under the table root
        (skipping hidden/_-prefixed names and staging directories).
        ``dirs``: restrict the walk to the named partition
        directories — the partition-scoped verbs pass their touched
        set so a mutation's before/after listings cost O(touched
        partition files), never a full-table walk (nothing on the
        O(batch) commit path may scale with table size)."""
        return sorted(self._data_file_sizes(dirs))

    def _data_file_sizes(
        self, dirs: set[str] | None = None
    ) -> dict[str, int]:
        """Relative path → byte size for every data file under the
        table root (or only the partition directories in ``dirs``) —
        one recursive walk."""
        return self._store.file_sizes(self.path, dirs)

    def _partition_dir_of(self, value) -> str:
        """PartitionKey=<escaped> directory name for a partition
        VALUE — byte-matching Spark's own writer escaping."""
        jvm = self.spark._jvm
        if value is None:
            esc = "__HIVE_DEFAULT_PARTITION__"
        elif isinstance(value, int):  # digits and '-' never escape
            esc = str(value)
        else:
            esc = (
                jvm.org.apache.spark.sql.catalyst.catalog
                .ExternalCatalogUtils.escapePathName(str(value))
            )
        return f"{self.keys[0]}={esc}"

    def _delete_rel(self, rel: str) -> None:
        self._store.delete(f"{self.path}/{rel}")

    def _prune_empty_partition_dirs(self, dirs=None) -> None:
        """Remove the empty ones among the partition directories
        ``dirs`` — the directories of the files a commit just deleted —
        or, with None, among every partition directory (a full root
        listing: only checkpoint commits and vacuum pay it)."""
        if dirs is None:
            prefix = f"{self.keys[0]}="
            dirs = [
                n for n in self._store.list_names(self.path)
                if n.startswith(prefix)
            ]
        for d in sorted(dirs):
            self._store.remove_dir_if_empty(f"{self.path}/{d}")

    def _distributed_file_stats(self, rels: list[str], pin: str) -> dict:
        """Per-file row-key min/max/null stats from ONE distributed
        pass over the key column of the named files — the beyond-cap
        twin of :meth:`_file_stats` (data-derived ranges are exact
        where footer strings may be truncated; the JSON-type gate is
        identical). Files whose key type isn't JSON-plain get no
        entry (never-skip).

        ``pin`` is the schema this commit is about to flip (ADVICE
        r11): this runs INSIDE _commit_snapshot, before the flip, and
        reading the freshly written files through the OLD pointer's
        table_schema would break after a type-widening or
        column-adding commit (exactly the big commits this
        distributed path exists for)."""
        if len(self.keys) < 2 or not rels:
            return {}
        rk = self.keys[1]
        agg = (
            self._read_files(self.spark, rels, pin=pin)
            .select(
                F.input_file_name().alias("__f"),
                F.col(rk).alias("__rk"),
            )
            .groupBy("__f")
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.sum(F.col("__rk").isNull().cast("long")).alias("nulls"),
                F.min("__rk").alias("mn"),
                F.max("__rk").alias("mx"),
            )
            .collect()
        )
        from urllib.parse import unquote

        out: dict[str, dict] = {}
        rel_set = set(rels)
        for r in agg:
            # input_file_name is a full URI (one layer of %-encoding
            # over the on-disk name); the rel form is always
            # <partition_dir>/<filename> (single-level partitioning)
            rel = unquote("/".join(r["__f"].split("/")[-2:]))
            if rel not in rel_set:
                continue
            mn, mx = r["mn"], r["mx"]
            if mn is not None and not all(
                isinstance(v, (str, int, float, bool)) for v in (mn, mx)
            ):
                continue
            out[rel] = {
                "rows": int(r["rows"]),
                "nulls": int(r["nulls"]),
                "min": mn,
                "max": mx,
            }
        return out

    def _file_stats(self, rel: str) -> dict | None:
        """Footer-only min/max/null stats of the row-key column for ONE
        data file — the data-skipping index entry. Metadata read (no
        row decode), computed once at commit time for newly appended
        files. None = "no stats, never skip this file" (non-local
        filesystems, non-JSON-serializable key types, stats-less
        footers) — skipping is only ever an optimization, absence is
        always correct."""
        if len(self.keys) < 2:
            return None  # no row-key column to index
        local_root = self._store.local_path(self.path.rstrip("/"))
        if local_root is None:
            return None
        try:
            import pyarrow.parquet as pq

            md = pq.ParquetFile(f"{local_root}/{rel}").metadata
            col = self.keys[1]
            names = {
                md.schema.column(i).name: i for i in range(md.num_columns)
            }
            rows = int(md.num_rows)
            if col not in names:
                # schema-evolution file without the column: reads back
                # as all-NULL for it
                return {"rows": rows, "nulls": rows, "min": None, "max": None}
            i = names[col]
            mn = mx = None
            nulls = 0
            for rg in range(md.num_row_groups):
                group = md.row_group(rg)
                st = group.column(i).statistics
                if st is None or st.null_count is None:
                    return None
                nulls += int(st.null_count)
                if st.has_min_max:
                    lo, hi = st.min, st.max
                    if not all(
                        isinstance(v, (str, int, float, bool))
                        for v in (lo, hi)
                    ):
                        return None
                    mn = lo if mn is None else min(mn, lo)
                    mx = hi if mx is None else max(mx, hi)
                elif int(st.null_count) < int(group.num_rows):
                    # non-null values exist but the writer recorded no
                    # bounds — unusable for skipping
                    return None
            return {"rows": rows, "nulls": nulls, "min": mn, "max": mx}
        except Exception:  # noqa: BLE001 — stats are best-effort
            return None

    _HISTORY_DIR = "_history"
    # max newly-appended files per commit to footer-index (driver IO
    # bound); overflow commits simply carry no stats for the new files
    _STATS_FILE_CAP = 4096

    def _history_dir_uri(self) -> str:
        return self.path.rstrip("/") + "/" + self._HISTORY_DIR

    def _history_uri(self, version: int) -> str:
        return f"{self._history_dir_uri()}/v{int(version)}.json"

    def _commit_snapshot(
        self,
        live: list[str],
        op: str = "write",
        written_schema=None,
    ) -> None:
        """Commit ``live`` as version+1, retire the previous version's
        files it drops, then physically delete retired files past the
        retention window. MUST run under the writer lock.

        Manifest layout (see the layout note above): the commit
        writes ONE O(batch) delta manifest (files added/removed + the
        added files' footer stats), a compacted checkpoint only every
        ``_CKPT_EVERY`` commits / on big rewrites, and atomically
        flips the small _SNAPSHOT pointer — so commit metadata cost is
        proportional to the BATCH, not the table. Crashed-writer
        orphans are invisible to readers by construction and reaped at
        checkpoint commits and vacuum (the only places that pay a full
        listing).

        ``written_schema``: the StructType of the rows this mutation
        wrote; folded into the pointer's pinned ``table_schema``
        (written fields win) so dtype alignment (_align_for_append)
        never needs an O(files) footer-merge. A version stays readable
        exactly as long as its files survive the retention window;
        vacuum / a 0-retention commit invalidates older versions (the
        standard Delta/Iceberg trade)."""
        import time

        # fence BEFORE the delta write too: a broken-lock writer's
        # delta at version N would clobber the successor's delta at
        # the same N even if the later pointer-flip fence catches it
        self._assert_lock_fresh()
        now = time.time()
        prev = self._read_snapshot() or {
            "version": 0, "files": [], "retired": [], "stats": {},
            "checkpoints": [], "table_schema": None, "lineage": None,
        }
        seen: set[str] = set()
        live = [f for f in live if not (f in seen or seen.add(f))]
        live_set = set(live)
        prev_set = set(prev["files"])
        adds = [f for f in live if f not in prev_set]
        removes = [f for f in prev["files"] if f not in live_set]
        retired = [
            [f, ts] for f, ts in prev["retired"] if f not in live_set
        ] + [[f, now] for f in removes]
        expired = [
            f for f, ts in retired if now - ts >= self.retain_stale_s
        ]
        kept = [
            [f, ts] for f, ts in retired if now - ts < self.retain_stale_s
        ]
        version = prev["version"] + 1
        # checkpoint policy: periodic; forced on the first commit, on
        # big rewrites (delta ≈ table anyway — overwrite / full
        # compact), and when the table empties (trivial state)
        is_ckpt = (
            version == 1
            or version % self._CKPT_EVERY == 0
            or (len(adds) + len(removes)) * 2 >= len(live) + 1
            or not live
        )
        # pinned table schema: base ∪ written (written wins); reset on
        # overwrite
        table_schema_json = prev["table_schema"]
        if written_schema is not None:
            table_schema_json = self._fold_pin(
                table_schema_json if op != "overwrite" else None,
                written_schema,
            )
        # data-skipping index: footer stats for the NEWLY appended
        # files only — driver-side IO, thread-pooled and CAPPED; a
        # commit appending more than the cap takes one distributed
        # key-column pass instead (absence = never-skip, so the cap
        # trades read pruning for commit latency, never correctness)
        prev_stats = prev["stats"]
        add_stats: dict[str, dict] = {}
        fresh = [f for f in adds if f not in prev_stats]
        if fresh and len(fresh) <= self._STATS_FILE_CAP:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=16) as pool:
                for f, s in zip(fresh, pool.map(self._file_stats, fresh)):
                    if s is not None:
                        add_stats[f] = s
        elif fresh:
            try:
                add_stats.update(
                    self._distributed_file_stats(fresh, table_schema_json)
                )
            except Exception:  # noqa: BLE001 — absence = never-skip
                pass
        stats = {f: prev_stats[f] for f in live if f in prev_stats}
        stats.update(add_stats)
        # lineage token (ADVICE r11): minted once at the table's first
        # commit (or a pre-lineage table's next commit) and carried
        # forever — lets the state cache tell THIS table apart from a
        # same-path rebuild that happens to collide on a version number
        lineage = prev["lineage"]
        if lineage is None:
            import uuid as _uuid

            lineage = _uuid.uuid4().hex
        pointer = {
            "format": 2,
            "version": version,
            "lineage": lineage,
            "checkpoints": prev["checkpoints"]
            + ([version] if is_ckpt else []),
            "retired": kept,
            "n_files": len(live),
            "table_schema": table_schema_json,
        }
        # write order: delta → checkpoint → pointer flip (the commit
        # point). A crash before the flip leaves docs the next commit
        # (same version number) atomically overwrites.
        # RE-fence here, not only at entry: the footer-stats step just
        # above can run minutes (thread-pooled footer reads, or a
        # distributed pass above the cap) — long enough for this
        # writer's lock to age stale and a successor to commit the
        # same version number; writing our delta now would clobber
        # the successor's committed doc even though the later
        # pointer-flip fence would catch the flip itself.
        self._assert_lock_fresh()
        delta_doc = {
            "format": 2,
            "version": version,
            "ts": now,
            "op": op,
            "add": adds,
            "remove": removes,
            "add_stats": add_stats,
            # the pin this commit flips: read(version=) and changes()
            # read this version's files through it
            "table_schema": table_schema_json,
        }
        # The delta write is the commit's ARBITRATION POINT (r12
        # verdict item 2): create-EXCLUSIVE, so a writer whose stale
        # lock was broken mid-mutation cannot clobber the successor's
        # committed delta even inside the fence→write race window —
        # its delayed write fails instead of silently replacing the
        # doc the successor's pointer references. A leftover doc at
        # this version from a CRASHED writer (pointer still behind)
        # is reclaimed — but only by the current lock holder, so two
        # live writers can never ping-pong deletes.
        try:
            self._write_json_atomic(
                self._history_uri(version), delta_doc, exclusive=True
            )
        except FileExistsError:
            ptr = self._read_pointer()
            if ptr is not None and int(ptr["version"]) >= version:
                raise RuntimeError(
                    f"commit conflict on {self.path} v{version}:"
                    " another writer already committed this version"
                    " (this writer's lock was broken as stale) —"
                    " aborting; this verb's work files are orphans,"
                    " reaped at the next checkpoint commit or vacuum()"
                ) from None
            # Reclaim is for CRASHED writers' leftovers only. A young
            # doc means a live racer created it microseconds ago (its
            # pointer flip is in flight) — deleting it would hand a
            # weak-lock store a lost update; abort instead. In sane
            # deployments a stale-lock break happens hours after the
            # crash, so the leftover is far older than this floor and
            # reclaim proceeds; the fence keeps two SOUND-lock writers
            # from ever reaching this branch concurrently.
            age = self._store.age_s(self._history_uri(version))
            if age is not None and age < self._RECLAIM_MIN_AGE_S:
                raise RuntimeError(
                    f"commit conflict on {self.path} v{version}: a"
                    " concurrent writer created this version doc"
                    f" {age:.1f}s ago and has not flipped the pointer"
                    " yet — aborting rather than reclaiming a live"
                    " writer's commit; retry this verb"
                ) from None
            self._assert_lock_fresh()  # only the holder may reclaim
            self._delete_rel(f"{self._HISTORY_DIR}/v{int(version)}.json")
            self._write_json_atomic(
                self._history_uri(version), delta_doc, exclusive=True
            )
        if is_ckpt:
            self._write_json_atomic(
                self._ckpt_uri(version),
                {"version": version, "files": live, "stats": stats},
            )
        # NOTE (ADVICE r12, merge.py:1216): a crash-retry at this
        # version may leave the dead writer's never-referenced
        # ckpt_v{N}.json on disk. Deliberately NOT deleted here: an
        # orphan checkpoint is harmless (_fold_state adopts only
        # pointer-referenced checkpoints; expire_history/vacuum reap
        # the file), while deleting it here races a successor that
        # broke our stale lock and pointer-referenced a ckpt at the
        # SAME version — that delete would strand its readers on full
        # delta folds and, after expire_history, break reconstruction.
        self._write_snapshot_atomic(pointer)
        with _STATE_CACHE_LOCK:
            _STATE_CACHE.pop(self.path, None)  # move-to-end
            _STATE_CACHE[self.path] = {
                "version": version,
                "files": live,
                "stats": stats,
                "lineage": lineage,
            }
            while len(_STATE_CACHE) > _STATE_CACHE_MAX:
                _STATE_CACHE.pop(next(iter(_STATE_CACHE)))
        # crashed-writer orphans (on disk, neither live nor retired):
        # reaped only where a full listing is already warranted —
        # checkpoint commits and vacuum — never on the O(batch) path
        orphans: list[str] = []
        if is_ckpt or op == "vacuum":
            known = live_set | {f for f, _ in retired}
            orphans = [
                f for f in self._list_data_files() if f not in known
            ]
        for rel in expired + orphans:
            self._delete_rel(rel)
        if expired or orphans:
            self._prune_empty_partition_dirs(
                None if is_ckpt or op == "vacuum"
                else {f.split("/", 1)[0] for f in expired}
            )

    def vacuum(self, retain_s: float = 0.0) -> None:
        """Delete retired files older than ``retain_s`` (and orphans),
        keeping the live set — run after lowering a retention window
        or to reclaim a crashed writer's debris."""
        with self._write_lock():
            snap = self._read_snapshot()
            if snap is None:
                return
            prev_retain = self.retain_stale_s
            self.retain_stale_s = retain_s
            try:
                self._commit_snapshot(list(snap["files"]), op="vacuum")
            finally:
                self.retain_stale_s = prev_retain

    def exists(self) -> bool:
        """True iff the current version has live files — a
        fully-emptied table reports False, like a missing one. The
        pointer carries the live count, so no state is reconstructed."""
        doc = self._read_pointer()
        return doc is not None and int(doc["n_files"]) > 0

    def read(self, version: int | None = None) -> DataFrame:
        """Current table, or — with ``version`` — the exact committed
        file set of an earlier snapshot (time travel). An old version
        is readable while its files survive the retention window;
        after vacuum / a 0-retention commit reaped them, raises with
        the missing files named rather than silently reading a
        partial snapshot."""
        return self._read_with(self.spark, version)

    def history(self) -> DataFrame:
        """One row per committed version (version, ts, op, n_files,
        readable) from the immutable ``_history`` manifests —
        ``readable`` says whether every file of that version is still
        on disk (time-travel-able right now)."""
        # refuse a torn pointer up front: below, an unresolvable
        # version is skipped, and a torn one must not read as expired
        self._read_pointer()
        names = self._store.list_names(self._history_dir_uri())
        on_disk = set(self._list_data_files())
        versions = sorted(
            int(n[1:-5])
            for n in names
            if n.startswith("v") and n.endswith(".json") and n[1:-5].isdigit()
        )
        rows = []
        state: list | None = None  # fold files forward across versions
        prev_v: int | None = None
        for v in versions:
            doc = self._read_json(self._history_uri(v))
            if doc is None:
                continue
            if state is None or prev_v != v - 1:
                # earliest surviving doc (or a chain gap): reconstruct
                # once, then fold incrementally
                try:
                    state = list(self._state_at(v)["files"])
                except ValueError:
                    continue  # base expired — version unresolvable
            else:
                state, _ = _apply_manifest_delta(state, {}, doc)
            prev_v = v
            rows.append(
                (
                    v,
                    float(doc["ts"]),
                    str(doc["op"]),
                    len(state),
                    all(f in on_disk for f in state),
                )
            )
        rows.sort()
        names = ("version", "ts", "op", "n_files", "readable")
        return local_relation(
            self.spark,
            "version long, ts double, op string, n_files long,"
            " readable boolean",
            dict(zip(names, map(list, zip(*rows)))) or None,
        )

    def _lookup_files(self, partition_value, row_key) -> list[str]:
        """Live files that can contain (partition_value, row_key):
        partition pruning by directory name, then file skipping on the
        manifest's footer min/max/null stats."""
        snap = self._require_snapshot()
        pdir = self._partition_dir_of(partition_value)
        cand = [f for f in snap["files"] if f.split("/", 1)[0] == pdir]
        stats = snap["stats"]
        out = []
        for f in cand:
            s = stats.get(f)
            if s is None:
                out.append(f)  # no stats recorded — never skip
                continue
            if row_key is None:
                if s["nulls"] > 0:
                    out.append(f)
                continue
            if s["min"] is None:
                # no bounds: all rows NULL-keyed iff nulls == rows
                if s["nulls"] < s["rows"]:
                    out.append(f)
                continue
            try:
                if s["min"] <= row_key <= s["max"]:
                    out.append(f)
            except TypeError:  # cross-type compare — keep, don't skip
                out.append(f)
        return out

    def lookup(self, partition_value, row_key) -> DataFrame:
        """S5 point read with MANIFEST-level data skipping: prune to
        the partition's live files, then drop every file whose footer
        row-key bounds exclude ``row_key`` — at 100 TB a hot partition
        holds many append/compact generations and the footer index
        turns a partition scan into a one-file read. Row-level filter
        still applied (bounds are necessary, not sufficient)."""
        rk_pred = (
            F.col(self.keys[1]).isNull()
            if row_key is None
            else F.col(self.keys[1]) == row_key
        )
        files = self._lookup_files(partition_value, row_key)
        if not files:
            return self._empty_read(self.spark)
        return self._read_files(self.spark, files).filter(rk_pred)

    def read_partitions(self, values) -> DataFrame:
        """Manifest-pinned read of ONLY the named partitions: the live
        file list is filtered driver-side to the ``PartitionKey=<v>``
        directories of ``values`` (same escaping as the writer), so the
        plan's inputFiles are a strict subset by construction — the
        probe primitive the ANN index rides (operators/annindex.py)."""
        snap = self._require_snapshot()
        dirs = {self._partition_dir_of(v) for v in values}
        files = [f for f in snap["files"] if f.split("/", 1)[0] in dirs]
        if not files:
            return self._empty_read(self.spark)
        return self._read_files(self.spark, files)

    def _empty_read(self, sess, pin: str | None = None) -> DataFrame:
        """A zero-row frame typed as :meth:`read` types the table —
        data columns in pin order, the partition column last, all
        nullable — built from the pinned schema (``pin``, default the
        current one) as a local relation.
        A filtered ``read()`` returns the same nothing, but first
        builds a file index over every live file, which past 32 files
        is a "Listing leaf files" Spark job."""
        st = self._pinned_struct(pin)
        pk = self.keys[0]
        fields = [f for f in st.fields if f.name != pk] + [st[pk]]
        return local_relation(sess, _nullable(T.StructType(fields)))

    def _version_doc(self, version: int) -> dict:
        """The state of committed ``version`` ({version, files, stats,
        ts, op, table_schema}), validated readable. Validation is
        DIFF-cheap: a file of the CURRENT snapshot is on disk by the
        commit invariant, so only the old version's files that have
        since been superseded need an existence probe — O(version
        diff) stat calls, never a full table walk."""
        doc = self._read_json(self._history_uri(version))
        if doc is None:
            raise ValueError(
                f"no committed version {version} at {self.path}"
            )
        if not doc.get("table_schema"):
            raise ValueError(
                f"version {version} of {self.path} records no pinned"
                " table_schema — refusing to read it"
            )
        state = self._state_at(int(version), cache=False)
        doc = {**doc, "files": list(state["files"]), "stats": state["stats"]}
        if doc["files"]:
            cur_live = set(self._require_snapshot()["files"])
            missing = [
                f
                for f in doc["files"]
                if f not in cur_live
                and not self._store.exists(f"{self.path}/{f}")
            ]
            if missing:
                raise ValueError(
                    f"version {version} of {self.path} is no longer"
                    f" readable: {len(missing)} of its files were"
                    f" reaped past the retention window (first:"
                    f" {missing[0]}); raise retain_stale_s to keep"
                    " history readable"
                )
        return doc

    def _pinned_struct(self, pin: str | None = None) -> T.StructType:
        """The schema ``pin`` (a version's pinned schema JSON), by
        default the pointer's — every commit pins one."""
        import json as _json

        if pin is None:
            doc = self._read_pointer()
            if doc is None:
                raise self._no_table()
            pin = doc["table_schema"]
        return T.StructType.fromJson(_json.loads(pin))

    def _read_files(
        self, sess, files: Sequence[str], pin: str | None = None
    ) -> DataFrame:
        """Explicit-file read through a pinned table schema: ``pin``,
        the schema a version's commit flipped, by default the current
        one. No footer is touched at planning time — a mergeSchema
        read runs a DISTRIBUTED footer-merge job per read, O(table
        files) work that at 10⁶ COW-sized files dwarfs the query
        itself, and types a partition column from directory names
        alone. The parquet reader widens older narrow files to the
        pinned type (Spark 4 type-widening) and returns typed NULL for
        columns a file predates. Time travel and CDC pass their
        version's pin, so an old version keeps the columns and types
        it was committed with, even after an overwrite dropped or a
        later upsert widened them."""
        return (
            sess.read.option("basePath", self.path)
            .schema(self._pinned_struct(pin))
            .parquet(*[f"{self.path}/{f}" for f in files])
        )

    def _read_rels(
        self, sess, rels: Sequence[str], part_type: str | None = None
    ) -> DataFrame:
        """Manifest-pinned read of exactly the live files ``rels``
        through session ``sess``, with the partition column cast to
        the caller's dtype (simpleString). The partition-scoped verbs
        (delete_by_keys, upsert_replace_partitions) read the touched
        partitions' live files this way — by file-list construction
        rather than by trusting catalyst pruning over the full listing
        — which keeps their planning cost proportional to the touched
        set at any table size and makes "only touched buckets were
        read" directly assertable (tests/test_annindex.py refresh
        accounting). The pin types the partition column as the table
        does, while the verbs' union and anti-join against the
        incoming frame want that frame's own key dtype."""
        df = self._read_files(sess, rels)
        if part_type and dict(df.dtypes).get(self.keys[0]) != part_type:
            df = df.withColumn(
                self.keys[0], F.col(self.keys[0]).cast(part_type)
            )
        return df

    # lossless upcasts: an incoming column at the KEY may append
    # verbatim next to files stored at any VALUE type (mergeSchema
    # itself refuses to merge them, so the cast happens at write time)
    _SAFE_UPCASTS = {
        "tinyint": ("smallint", "int", "bigint"),
        "smallint": ("int", "bigint"),
        "int": ("bigint",),
        "float": ("double",),
    }

    @staticmethod
    def _fold_pin(base_json, written_schema) -> str:
        """Pinned-table-schema fold: the previous pin's fields (none on
        a first write or an overwrite) updated by the written fields
        (written wins on dtype conflict — the writer either aligned to
        the stored type or widened it via union coercion), new fields
        appended. Returns schema JSON."""
        import json as _json

        base = (
            T.StructType.fromJson(_json.loads(base_json))
            if base_json
            else T.StructType([])
        )
        fields = {f.name: f for f in base.fields}
        order = [f.name for f in base.fields]
        for f in written_schema.fields:
            if f.name not in fields:
                order.append(f.name)
            fields[f.name] = f
        return T.StructType([fields[n] for n in order]).json()

    def _align_for_append(self, df: DataFrame) -> DataFrame | None:
        """``df`` with every column whose dtype drifted from the
        stored table LOSSLESSLY upcast to the stored type — or None
        when some column drifted wider / incompatibly (the caller
        must then take a coercing merge-rewrite path instead of a
        pure append). Columns new to the table pass through (schema
        evolution); columns the table has but ``df`` lacks read back
        NULL through the pinned schema (ADVICE r10, high)."""
        tbl = self._pinned_struct()
        want = {f.name: f.dataType.simpleString() for f in tbl.fields}
        out = df
        for name, have in df.dtypes:
            target = want.get(name)
            if name == self.keys[0]:
                # the partition key is directory-encoded, never stored
                # in data files — its dtype cannot poison a read
                continue
            if target is None or target == have:
                continue
            if target in self._SAFE_UPCASTS.get(have, ()):
                out = out.withColumn(name, F.col(name).cast(target))
            else:
                return None
        return out

    def _cow_split(
        self, key_set: DataFrame | None, parts,
        has_null: bool | None = None, collected=None,
    ) -> tuple[list[str], list[str]] | None:
        """File-level copy-on-write split of the touched partitions'
        live files: ``(hit, clean)``, where *hit* files MAY contain a
        row whose key appears in ``key_set`` (by the manifest's footer
        row-key stats) and *clean* files provably cannot — so a
        mutation rewrites only the hit set and re-lists the clean
        files live untouched. At 100 TB this is the difference between
        rewriting a hot multi-GB partition and rewriting the couple of
        128 MB files a CDC batch actually lands in (Delta/Iceberg
        copy-on-write granularity); after ``compact(cluster=True)``
        the partition's files carry disjoint row-key ranges, so the
        hit set degenerates to ~|batch| files.

        Conservative by construction — skipping is only ever an IO
        optimization: a file with no stats entry, a bound whose Python
        type doesn't match the key dtype, or ANY row-key overlap (even
        from a different partition's key: the rewrite anti-joins on
        the FULL key, so a cross-partition false hit costs IO, never
        rows) lands in *hit*. Returns None — caller keeps its
        whole-partition path — for single-key tables, non-int/string
        row-key dtypes (float NaN never enters footer bounds;
        decimal/date bounds aren't JSON-plain anyway).

        ``collected``: the key rows already on the driver as an Arrow
        table (the driver-sized writes, :meth:`_arrow_merge`). The
        range probe then bisects its sorted keys against each file's
        bounds in Python and runs no Spark job; the classification is
        the same, and ``key_set`` may be None. The row-key type is the
        pinned one; a ``key_set`` whose key is of another type family
        gets no split."""
        vals = list(parts)
        if len(self.keys) < 2 or not vals:
            return None
        rk = self.keys[1]

        def family(dtype):
            if dtype == "string":
                return str
            return int if dtype in _ARROW_KEY_TYPES else None

        py_t = family(self._pinned_struct()[rk].dataType.simpleString())
        if py_t is None or key_set is not None and (
            family(dict(key_set.dtypes)[rk]) is not py_t
        ):
            return None
        snap = self._require_snapshot()
        dirs = {self._partition_dir_of(v) for v in vals}
        cand = [f for f in snap["files"] if f.split("/", 1)[0] in dirs]
        if not cand:
            return [], []
        stats = snap["stats"]
        # Classification is independent of the (possibly not-yet-known)
        # NULL flag: files whose stats record nulls are NULL-SENSITIVE
        # (hit iff the key set carries a NULL key) and — when they also
        # carry usable bounds — still range-probed, so the final hit
        # set is probe-hits ∪ (null-sensitive iff has_null): exactly
        # the classification the old two-action form produced, from at
        # most ONE Spark action (r14, guide §1.2 — the null probe and
        # the range probe were two full driver job round-trips per
        # mutation; the range probe also paid a distinct shuffle and
        # 2-4 AQE stage jobs).
        hit: list[str] = []
        null_sensitive: list[str] = []
        ranged: list[tuple[str, object, object]] = []
        for f in cand:
            s = stats.get(f)
            if s is None:
                hit.append(f)  # no stats recorded — never skip
                continue
            if s["nulls"] > 0:
                null_sensitive.append(f)
            if s["min"] is None:
                # bound-less stats mean every row is NULL-keyed
                # (_file_stats returns None, not bound-less stats,
                # when non-null rows lack usable bounds)
                continue
            if not all(
                isinstance(v, py_t) and not isinstance(v, bool)
                for v in (s["min"], s["max"])
            ):
                hit.append(f)  # cross-typed bound: never skip
                continue
            ranged.append((f, s["min"], s["max"]))
        # schema-level short-circuit: a non-nullable key column can't
        # carry NULLs; callers that already tallied the batch pass the
        # flag in so no extra job ever runs for it
        if has_null is None and not bool(key_set.schema[rk].nullable):
            has_null = False
        need_null = has_null is None and bool(null_sensitive)
        if ranged and collected is not None:
            import bisect

            ks = sorted(
                k for k in collected.column(rk).to_pylist() if k is not None
            )
            for f, mn, mx in ranged:
                i = bisect.bisect_left(ks, mn)
                if i < len(ks) and ks[i] <= mx:
                    hit.append(f)
        elif ranged:
            # the bounds frame is typed at the WIDEST member of the
            # key's type family, not the caller's dtype (ADVICE r10):
            # stored footer bounds can exceed a narrow caller type's
            # range (tinyint delete keys against a table whose RowKey
            # runs past 127), and createDataFrame would then fail
            # schema verification and crash the verb. Upcasting the
            # probe key to the same wide type is lossless, so the
            # range comparison is unchanged.
            probe_t = "bigint" if py_t is int else "string"
            sess = key_set.sparkSession
            try:
                # The bounds frame as an Arrow LocalRelation: the same
                # local plan a SQL VALUES list gives (createDataFrame
                # over a list is an RDD scan), but built without SQL
                # text, so parser confs (escaped string literals, ANSI
                # off) cannot alter a bound and silently clear a file.
                # A bound past int64 raises into the conservative
                # except below.
                rels, mns, mxs = (list(c) for c in zip(*ranged))
                files_df = local_relation(
                    sess,
                    f"__rel string, __mn {probe_t}, __mx {probe_t}",
                    {"__rel": rels, "__mn": mns, "__mx": mxs},
                )
                # ONE action: left-join every key row (no distinct —
                # duplicate keys only re-emit rels collect_set drops)
                # against the broadcast-local bounds, fold the hit rels
                # AND the NULL flag in a single global aggregate. AQE
                # off: the output is bounded (≤ |cand| rel strings), so
                # AQE would only add one job per exchange.
                probe = key_set.select(
                    F.col(rk).cast(probe_t).alias("__k")
                )
                joined = probe.join(
                    F.broadcast(files_df),
                    (F.col("__k") >= F.col("__mn"))
                    & (F.col("__k") <= F.col("__mx")),
                    "left" if need_null else "inner",
                )
                with _no_aqe(sess):
                    row = joined.agg(
                        F.collect_set("__rel").alias("__rels"),
                        F.max(F.col("__k").isNull()).alias("__n"),
                    ).first()
                hit += list(row["__rels"])
                if need_null:
                    has_null = bool(row["__n"])
            except Exception:  # noqa: BLE001 — probe is an IO
                # optimization only: any failure to build/run it
                # (bounds outside even the wide type, exotic stats)
                # keeps every ranged file in the rewrite set; the NULL
                # flag stays unknown, so null-sensitive files are
                # conservatively hit below
                hit += [f for f, _, _ in ranged]
                if need_null:
                    has_null = True
        elif need_null:
            with _no_aqe(key_set.sparkSession):
                has_null = bool(
                    key_set.agg(
                        F.max(F.col(rk).isNull()).alias("__n")
                    ).first()["__n"]
                )
        if has_null and null_sensitive:
            hit += null_sensitive
        hit_set = set(hit)
        return sorted(hit_set), [f for f in cand if f not in hit_set]

    def changes(
        self,
        from_version: int,
        to_version: int | None = None,
        include_preimage: bool = False,
    ) -> DataFrame:
        """Change feed between two committed versions (CDC): one row
        per key whose state differs, with ``change_type`` ∈ insert /
        update / delete (update/insert carry the NEW values, delete
        the last OLD ones).

        ``include_preimage=True`` additionally emits one
        ``update_preimage`` row per update carrying the OLD values
        (the Delta Lake CDF ``update_preimage``/``update_postimage``
        pair, with the postimage kept as plain ``update`` for
        backward compatibility). Pre-images make downstream
        incremental maintenance batch-proportional: a consumer that
        must undo the old state (e.g. an ANN index deleting a moved
        vector from its OLD bucket — operators/annindex.py
        ``apply_changes``) derives it from the batch itself instead
        of scanning its own storage per batch. Single-pass: the CDC
        join runs once and updates fan out via one generator.

        MANIFEST-POWERED: files common to both versions cannot
        contribute changes (every verb rewrites whole files — only the
        files its COW split hits), so only the two manifests'
        symmetric difference is ever read — at 100 TB, diffing two
        versions that touched one file reads that file, not the
        table. Rewritten-but-identical rows (an upsert re-materializes
        the unchanged rows of every file it rewrites) are compared
        null-safely column-by-column and dropped.

        A driver-sized diff runs on Arrow in 0 Spark jobs
        (:meth:`_arrow_changes`, with the same rows and types); the
        rest — and every diff across a schema change — is one Spark
        join."""
        doc_a = self._version_doc(from_version)
        if to_version is None:
            to_version = self._require_snapshot()["version"]
        doc_b = self._version_doc(to_version)
        fa, fb = set(doc_a["files"]), set(doc_b["files"])
        old_only, new_only = sorted(fa - fb), sorted(fb - fa)
        if not old_only and not new_only:
            return self._empty_read(
                self.spark, doc_b["table_schema"]
            ).withColumn("change_type", F.lit(""))
        fast = self._arrow_changes(
            (old_only, doc_a), (new_only, doc_b), include_preimage
        )
        if fast is not None:
            return fast
        # each side reads through its own version's pin: the old side
        # may carry columns the newer pin no longer has
        old_df, new_df = (
            self._read_files(self.spark, rels, pin=doc["table_schema"])
            if rels
            else self._empty_read(self.spark, doc["table_schema"])
            for rels, doc in ((old_only, doc_a), (new_only, doc_b))
        )
        # schema-evolution alignment: a column only one side has reads
        # back as typed NULL on the other
        cols = list(
            dict.fromkeys(list(new_df.columns) + list(old_df.columns))
        )
        for c in cols:
            if c not in old_df.columns:
                old_df = old_df.withColumn(
                    c, F.lit(None).cast(dict(new_df.dtypes)[c])
                )
            if c not in new_df.columns:
                new_df = new_df.withColumn(
                    c, F.lit(None).cast(dict(old_df.dtypes)[c])
                )
        o = old_df.withColumn("__cdc_o", F.lit(True)).alias("__cdc_old")
        n = new_df.withColumn("__cdc_n", F.lit(True)).alias("__cdc_new")
        cond = None
        for k in self.keys:
            c = F.col(f"__cdc_old.{k}").eqNullSafe(F.col(f"__cdc_new.{k}"))
            cond = c if cond is None else cond & c
        j = o.join(n, cond, "full_outer")
        vals = [c for c in cols if c not in self.keys]
        differs = F.lit(False)
        for c in vals:
            differs = differs | ~F.col(f"__cdc_old.{c}").eqNullSafe(
                F.col(f"__cdc_new.{c}")
            )
        ct = (
            F.when(F.col("__cdc_o").isNull(), F.lit("insert"))
            .when(F.col("__cdc_n").isNull(), F.lit("delete"))
            .when(differs, F.lit("update"))
        )
        out = [
            F.coalesce(
                F.col(f"__cdc_new.{k}"), F.col(f"__cdc_old.{k}")
            ).alias(k)
            for k in self.keys
        ]
        val_exprs = [
            F.when(
                F.col("change_type") == "delete", F.col(f"__cdc_old.{c}")
            )
            .otherwise(F.col(f"__cdc_new.{c}"))
            .alias(c)
            for c in vals
        ]
        res = j.withColumn("change_type", ct).filter(
            F.col("change_type").isNotNull()
        )
        if not include_preimage:
            return res.select(*out, *val_exprs, "change_type")
        # one event struct per emitted row; updates fan out into
        # (preimage, postimage) via a single explode — the generator
        # is the outermost expression (build the array first, explode
        # in its own projection)
        single_ev = F.struct(
            F.col("change_type").alias("change_type"), *val_exprs
        )
        pre_ev = F.struct(
            F.lit("update_preimage").alias("change_type"),
            *[F.col(f"__cdc_old.{c}").alias(c) for c in vals],
        )
        evs = F.when(
            F.col("change_type") == "update", F.array(pre_ev, single_ev)
        ).otherwise(F.array(single_ev))
        exploded = res.withColumn("__cdc_ev", F.explode(evs))
        return exploded.select(
            *out,
            *[F.col(f"__cdc_ev.{c}").alias(c) for c in vals],
            F.col("__cdc_ev.change_type").alias("change_type"),
        )

    def _arrow_changes(self, old, new, include_preimage: bool):
        """The Arrow twin of :meth:`changes` for a driver-sized diff:
        the same rows, columns and types as a local relation, in 0
        Spark jobs. ``old`` and ``new`` are (files only that side
        holds, its version doc). Returns None — the caller plans the
        Spark join — unless the table is local with two string or
        integral keys, both versions carry the same pin (schema
        evolution stays on Spark), every value column is atomic or an
        array of atomics, and every file read has stats and they hold
        at most ``_ARROW_MAX_ROWS`` rows.

        pyarrow 16's join refuses list columns and never matches NULL
        keys, so it joins only the key columns — NULLs filled, a NULL
        flag per key beside them, so keys match null-safely — and row
        indices, and ``take``s the rest. Values compare as Spark's
        ``eqNullSafe`` does (:func:`_same_values`)."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        from pyspark.sql.pandas.types import to_arrow_type

        pin = new[1]["table_schema"]
        root = self._store.local_path(self.path.rstrip("/"))
        if (
            root is None
            or len(self.keys) != 2
            or old[1]["table_schema"] != pin
        ):
            return None
        st = self._pinned_struct(pin)
        pk = self.keys[0]
        vals = [f.name for f in st.fields if f.name not in self.keys]
        if not all(
            st[k].dataType.simpleString() in _ARROW_KEY_TYPES
            for k in self.keys
        ) or not all(
            isinstance(
                getattr(st[c].dataType, "elementType", st[c].dataType),
                T.AtomicType,
            )
            for c in vals
        ):
            return None
        read_stats = [
            doc["stats"].get(f) for rels, doc in (old, new) for f in rels
        ]
        if None in read_stats or sum(
            s["rows"] for s in read_stats
        ) > _ARROW_MAX_ROWS:
            return None
        schema = self._arrow_schema(pin)
        pk_type = to_arrow_type(st[pk].dataType)

        def read(rels):
            # the partition column from the directory name, last, as
            # Spark's pinned read types it
            pieces = []
            for f in rels:
                t = self._arrow_file(root, f, schema)
                v = pa.scalar(
                    self._partition_value_of_dir(f.split("/", 1)[0]),
                    pa.string(),
                ).cast(pk_type)
                pieces.append(t.append_column(pk, pa.repeat(v, t.num_rows)))
            return pa.concat_tables(pieces) if pieces else schema.append(
                pa.field(pk, pk_type)
            ).empty_table()

        def keyed(t, idx):
            cols = {idx: pa.array(np.arange(t.num_rows, dtype=np.int64))}
            for k in self.keys:
                fill = "" if pa.types.is_string(t[k].type) else 0
                cols[k] = pc.fill_null(t[k], fill)
                cols[f"__cdc_null_{k}"] = pc.is_null(t[k])
            return pa.table(cols)

        o_t, n_t = read(old[0]), read(new[0])
        j = keyed(o_t, "__cdc_o").join(
            keyed(n_t, "__cdc_n"),
            keys=[c for k in self.keys for c in (k, f"__cdc_null_{k}")],
            join_type="full outer",
        )
        oi = pc.fill_null(j["__cdc_o"], -1).to_numpy()
        ni = pc.fill_null(j["__cdc_n"], -1).to_numpy()
        both = (oi >= 0) & (ni >= 0)
        po, pn = oi[both], ni[both]
        o_m, n_m = o_t.take(po), n_t.take(pn)
        upd = np.zeros(len(po), bool)
        for c in vals:
            upd |= ~_same_values(o_m[c], n_m[c])
        names = [*self.keys, *vals]
        events = [
            (n_t, ni[oi < 0], "insert"),
            (o_t, oi[ni < 0], "delete"),
        ]
        if include_preimage:
            events.append((o_t, po[upd], "update_preimage"))
        events.append((n_t, pn[upd], "update"))
        out = pa.concat_tables([
            t.take(idx).select(names).append_column(
                "change_type", pa.array([ct] * len(idx), pa.string())
            )
            for t, idx, ct in events
        ])
        fields = [st[c] for c in names]
        return local_relation(
            self.spark,
            _nullable(T.StructType(
                fields + [T.StructField("change_type", T.StringType())]
            )),
            dict(zip(out.column_names, out.columns)),
        )

    def _read_with(self, sess, version: int | None = None) -> DataFrame:
        if version is not None:
            doc = self._version_doc(version)
            if not doc["files"]:
                return self._empty_read(sess, doc["table_schema"])
            return self._read_files(
                sess, doc["files"], pin=doc["table_schema"]
            )
        # the manifest pins the exact committed file set and the
        # schema; basePath keeps directory-derived partition columns
        # and pruning. A fully-emptied table is a typed empty frame —
        # never the directory, whose retained-but-retired files would
        # resurrect deleted rows.
        files = self._require_snapshot()["files"]
        if not files:
            return self._empty_read(sess)
        return self._read_files(sess, files)

    def _has_history(self) -> bool:
        """True iff at least one committed _history manifest exists."""
        return any(
            n.startswith("v") and n.endswith(".json")
            for n in self._store.list_names(self._history_dir_uri())
        )

    def overwrite(self, df: DataFrame) -> None:
        with self._write_lock():
            self._overwrite_unlocked(df)

    def _overwrite_unlocked(self, df: DataFrame) -> None:
        before = set(self._list_data_files())
        (
            df.write.mode("append")
            .partitionBy(self.keys[0])
            .parquet(self.path)
        )
        new_files = [
            f for f in self._list_data_files()
            if f not in before
        ]
        self._commit_snapshot(
            new_files, op="overwrite", written_schema=df.schema
        )

    def _append_and_commit(
        self, rows, op: str, dirs: set[str], hit=None,
        written_schema=None,
    ) -> None:
        """Commit the files a mutation appended under the partition
        directories ``dirs`` live in place of the files they
        supersede: ``hit`` (a COW split's hit files) when given, else
        every live file under ``dirs``. ``rows`` is either a DataFrame,
        which Spark's writer appends here, or the list of files
        :meth:`_arrow_write` already wrote. The before/after listings
        walk only ``dirs`` — the write lands nowhere else — so a
        partition-scoped mutation never pays a table walk."""
        prev = self._require_snapshot()["files"]
        if isinstance(rows, DataFrame):
            before = set(self._list_data_files(dirs))
            rows.write.mode("append").partitionBy(self.keys[0]).parquet(
                self.path
            )
            new_files = [
                f for f in self._list_data_files(dirs) if f not in before
            ]
        else:
            new_files = list(rows)
        gone = (
            set(hit)
            if hit is not None
            else {f for f in prev if f.split("/", 1)[0] in dirs}
        )
        self._commit_snapshot(
            [f for f in prev if f not in gone] + new_files,
            op=op,
            written_schema=written_schema,
        )

    def partition_is_empty(self, partition_value: str) -> bool:
        """I2 idempotency gate (otrrentetl/server/etl.py:29,71), read
        off the manifest at zero Spark jobs: the partition holds a row
        iff a live file under its directory records ``rows > 0`` in
        its footer stats. Only a file without stats (single-key
        tables, non-local stores) leaves it to a LIMIT-1
        partition-pruned probe."""
        snap = self._read_snapshot()
        if snap is None:
            return True
        pdir = self._partition_dir_of(partition_value)
        files = [f for f in snap["files"] if f.split("/", 1)[0] == pdir]
        stats = snap["stats"]
        if any(stats[f]["rows"] > 0 for f in files if f in stats):
            return False
        if all(f in stats for f in files):
            return True
        # three-valued logic: `col == None` is NULL for every row, so
        # probing the NULL partition needs isNull explicitly
        pred = (
            F.col(self.keys[0]).isNull()
            if partition_value is None
            else F.col(self.keys[0]) == partition_value
        )
        return not self.read().filter(pred).limit(1).collect()

    def _empty_partition_as_null(self, df: DataFrame) -> DataFrame:
        """``df`` with an empty-string partition value mapped to NULL.
        Spark's writer files ``""`` under the NULL partition directory,
        so the row reads back NULL; mapping it up front lets both verbs
        route, split and commit against the directory the row actually
        lands in (and match it against the NULL partition's rows)."""
        pk = self.keys[0]
        if dict(df.dtypes).get(pk) != "string":
            return df
        return df.withColumn(pk, F.nullif(F.col(pk), F.lit("")))

    def _arrow_sized(self, dtypes: dict, op: str, n_rows: int) -> bool:
        """The half of the Arrow gate known before the batch is
        collected: a local two-key table whose keys are pinned as
        string or an integral type, and at most
        ``_ARROW_MAX_ROWS`` batch rows whose ``dtypes`` (column →
        simpleString) are exactly the pinned ones — every pinned
        column for an upsert (no added, missing or drifted column),
        the two keys for a delete."""
        if (
            n_rows > _ARROW_MAX_ROWS
            or len(self.keys) != 2
            or self._store.local_path(self.path) is None
        ):
            return False
        pinned = {
            f.name: f.dataType.simpleString()
            for f in self._pinned_struct().fields
        }
        want = pinned if op == "upsert" else {
            k: pinned.get(k) for k in self.keys
        }
        return dtypes == want and all(
            pinned[k] in _ARROW_KEY_TYPES for k in self.keys
        )

    def _merge_touched(
        self, batch: DataFrame, op: str, drift: bool = False
    ) -> None:
        """The one body of :meth:`upsert_replace_partitions` (``op``
        "upsert": ``batch`` holds the pinned, aligned incoming rows)
        and :meth:`delete_by_keys` ("delete": the pinned key set):
        route, COW-split, write the touched partitions, commit.
        ``drift``: some column drifted wider than the stored type, so
        the upsert rewrites the touched partitions through Spark's
        union coercion.

        ONE routing aggregate answers every question asked before the
        write: the touched partitions, whether any row key is NULL
        (the COW split's null-sensitivity flag) and the batch's row
        count (the Arrow gate). The write step then branches once —
        see "DRIVER-SIZED VERBS" in the class docstring."""
        sess = batch.sparkSession
        pk = self.keys[0]
        rk = self.keys[1] if len(self.keys) >= 2 else None
        # plan on the batch's OWN session (foreachBatch hands verbs
        # frames owned by a cloned session whose conf is separate)
        with _no_aqe(sess):
            part_rows = (
                batch.groupBy(pk)
                .agg(
                    F.max(
                        F.col(rk).isNull() if rk else F.lit(False)
                    ).alias("__n"),
                    F.count(F.lit(1)).alias("__c"),
                )
                .collect()
            )
        parts = [r[0] for r in part_rows]
        if op == "delete" and not parts:
            return
        has_null = bool(rk) and any(r["__n"] for r in part_rows)
        n_rows = sum(r["__c"] for r in part_rows)
        # reads the pinned blocks: one job, none on the Spark path
        collected = (
            batch.toArrow()
            if not drift and self._arrow_sized(dict(batch.dtypes), op, n_rows)
            else None
        )
        if collected is not None and self._arrow_merge(
            collected, op, has_null
        ):
            return
        dirs = {self._partition_dir_of(p) for p in parts}
        # file-level copy-on-write (r10): only the files whose footer
        # row-key range can contain a batch key are rewritten; files
        # the manifest stats prove clean stay live untouched. Wider
        # drift rewrites the whole touched partitions (split=None).
        split = None if drift else self._cow_split(
            batch.select(*self.keys), parts, has_null=has_null,
            collected=collected,
        )
        snap = self._require_snapshot()
        rels = split[0] if split is not None else [
            f for f in snap["files"] if f.split("/", 1)[0] in dirs
        ]
        # no rels: no live file can hold a batch key
        old = (
            self._read_rels(sess, rels, dict(batch.dtypes)[pk])
            if rels else None
        )
        # lazy on purpose: the append is each plan's ONLY consumer,
        # and its input files stay live until the commit after the
        # write — no pin needed. A delete with nothing to drop still
        # commits, so the verb always flips a version.
        if op == "delete":
            rows = [] if old is None else delete_keys(old, batch, self.keys)
        elif old is None:
            rows = batch.dropDuplicates(list(self.keys))
        else:
            rows = upsert_replace(old, batch, self.keys)
        self._append_and_commit(
            rows, op, dirs,
            hit=None if split is None else split[0],
            written_schema=rows.schema if op == "upsert" else None,
        )

    def _arrow_merge(self, collected, op: str, has_null: bool) -> bool:
        """The Arrow tail of every driver-sized write — the verbs' and
        the vector-index fold's: COW-split the partitions ``collected``
        touches against its own keys (no Spark job), merge them in
        pyarrow (:meth:`_arrow_write`) and commit. ``collected`` holds
        the batch rows typed as pinned, an empty-string partition key
        already mapped to NULL; ``op`` is "upsert" (whole rows) or
        "delete" (the keys); ``has_null``: some row key is NULL. MUST
        run under the writer lock. Returns False, having written
        nothing, when a file to rewrite has no stats or the batch rows
        plus the rewritten files' rows pass ``_ARROW_MAX_ROWS``."""
        parts = set(collected.column(self.keys[0]).to_pylist())
        split = self._cow_split(
            None, parts, has_null=has_null, collected=collected
        )
        if split is None:
            return False
        stats = self._require_snapshot()["stats"]
        hit = split[0]
        if not all(f in stats for f in hit) or collected.num_rows + sum(
            stats[f]["rows"] for f in hit
        ) > _ARROW_MAX_ROWS:
            return False
        self._append_and_commit(
            self._arrow_write(collected, hit, op == "upsert"),
            op, {self._partition_dir_of(p) for p in parts}, hit=hit,
        )
        return True

    def _arrow_schema(self, pin: str | None = None):
        """The Arrow schema of the data files under ``pin`` (default
        the current one): every pinned column but the partition key,
        in pin order, nullable."""
        from pyspark.sql.pandas.types import to_arrow_schema

        return to_arrow_schema(T.StructType([
            f for f in _nullable(self._pinned_struct(pin)).fields
            if f.name != self.keys[0]
        ]))

    def _arrow_file(self, root: str, rel: str, schema):
        """Data file ``rel`` under local ``root`` read by pyarrow and
        conformed to ``schema`` (see :meth:`_arrow_write` for the
        timestamp unit)."""
        import pyarrow.parquet as pq

        return _conform(
            pq.ParquetFile(
                f"{root}/{rel}", coerce_int96_timestamp_unit="us"
            ).read(),
            schema,
        )

    def _arrow_write(self, batch, hit: list[str], upsert: bool) -> list[str]:
        """The Arrow twin of the Spark merge-write. For each partition
        the collected ``batch`` touches: read its ``hit`` files, drop
        the rows whose row key is among that partition's batch keys
        (null-aware ``is_in`` ≡ ``eqNullSafe``), append the
        partition's batch rows on an upsert (the first occurrence of a
        key wins, as ``dropDuplicates`` keeps it), and write one snappy
        parquet file under the partition's directory — none for an
        emptied partition. Returns the written files' relative paths.

        Every column is cast to the pinned schema's Arrow type, never
        left at pyarrow's read default: a Spark-written INT96
        timestamp reads back naive (``timestamp[ns]`` by default, here
        ``[us]`` so that no year past 2262 overflows), which written
        back as it is is refused under the pinned ``timestamp``
        (PARQUET_COLUMN_DATA_TYPE_MISMATCH); cast to ``timestamp[us,
        tz=UTC]`` it reads back equal next to Spark's INT96 files. A
        column a file predates is written as NULL, as the pinned
        Spark read gives it."""
        import os
        import uuid

        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        pk, rk = self.keys
        schema = self._arrow_schema()
        root = self._store.local_path(self.path.rstrip("/"))
        pks = batch.column(pk).to_pylist()
        dir_of = {v: self._partition_dir_of(v) for v in set(pks)}
        take: dict[str, list[int]] = {d: [] for d in dir_of.values()}
        seen: set = set()
        for i, key in enumerate(zip(pks, batch.column(rk).to_pylist())):
            if key not in seen:
                seen.add(key)
                take[dir_of[key[0]]].append(i)
        written = []
        for d, idx in take.items():
            rows = batch.take(idx)
            drop = rows[rk].cast(schema.field(rk).type)
            pieces = [
                t.filter(pc.invert(pc.is_in(
                    t[rk], value_set=drop, skip_nulls=False
                )))
                for t in (
                    self._arrow_file(root, f, schema)
                    for f in hit if f.split("/", 1)[0] == d
                )
            ] + ([_conform(rows, schema)] if upsert else [])
            if not pieces:
                continue
            out = pa.concat_tables(pieces)
            if out.num_rows == 0:
                continue
            rel = f"{d}/part-{uuid.uuid4()}.c000.snappy.parquet"
            os.makedirs(f"{root}/{d}", exist_ok=True)
            pq.write_table(out, f"{root}/{rel}", compression="snappy")
            written.append(rel)
        return written

    @_locked
    def delete_by_keys(self, deletes: DataFrame) -> None:
        """K4 against the stored table, partition-scoped: only the
        partitions that actually contain delete keys are rewritten
        (append + manifest flip), mirroring the reference's per-row
        surgical deletes (azurestoragewrapper.py:260-267) without a
        full-table rewrite — at 100 TB, deleting a handful of keys
        touches a handful of partition directories. A driver-sized
        key set runs on Arrow in 2 Spark jobs, a larger one on Spark
        (class docstring, "DRIVER-SIZED VERBS"). An empty-string
        partition key matches the NULL partition, where Spark's
        writer files it.

        Safety: the delete-key set is pinned (localCheckpoint) before
        the write; the surviving rows need no pin of their own — the
        verb only APPENDS new files, and the superseded inputs are
        deleted at the commit AFTER the append completes, so the plan
        can never observe its own destruction.

        Caller contract for MULTI-table purges: ``deletes`` is pinned
        here before this table is mutated, but if the same lazy plan
        reads a table that an EARLIER delete_by_keys call already
        rewrote, re-evaluating it fails on vanished files — pin the
        purge set once (localCheckpoint / collect) before fanning it
        out across tables.
        """
        if not self.exists():
            return
        # LAZY checkpoint (r14): the routing aggregate is the first
        # action, so the pin materializes inside it and every later
        # consumer (collect, COW probe, anti-join) reads the pinned
        # blocks. No distinct here: under AQE, checkpointing a plan
        # with a shuffle runs that shuffle's job at once, and neither
        # the COW probe nor the anti-join needs the keys distinct
        key_set = self._empty_partition_as_null(
            deletes.select(*self.keys)
        ).localCheckpoint(eager=False)
        self._merge_touched(key_set, "delete")

    def stats(self) -> DataFrame:
        """Per-partition table statistics: row count, file count, and
        byte size per PartitionKey — the observability face of the
        keyed-table lifecycle (what you check before/after a compact,
        delete, or backfill). Row counts come from one partition-
        grouped aggregate (metadata-cheap column-less scan); file
        counts and bytes from a driver-side Hadoop FS listing of the
        partition directories (bounded by partition count, no data
        read)."""
        # validate the manifest against the disk walk BEFORE read():
        # the clearer divergence error beats Spark's PATH_NOT_FOUND
        prefix = f"{self.keys[0]}="
        snap = self._require_snapshot()
        sizes = self._data_file_sizes()  # ONE walk (local fast path)
        # count/size only LIVE files, so retired-but-retained files
        # never inflate the stats
        per_part: dict[str, list[int]] = {}
        for rel in snap["files"]:
            head = rel.split("/", 1)[0]
            if not head.startswith(prefix):
                continue
            if rel not in sizes:
                # a LIVE manifest file absent on disk is corruption
                # (reaped past retention, external deletion) — a
                # silent 0-byte default would mask it (ADVICE r8)
                raise FileNotFoundError(
                    f"live snapshot file missing on disk: "
                    f"{self.path}/{rel} (manifest/storage divergence"
                    " — restore the file or roll the table back)"
                )
            agg = per_part.setdefault(head, [0, 0])
            agg[0] += 1
            agg[1] += sizes[rel]
        listing = [
            (self._partition_value_of_dir(d), n, b)
            for d, (n, b) in per_part.items()
        ]
        files = self.spark.createDataFrame(
            listing, "partition string, n_files long, n_bytes long"
        )
        rows = (
            self.read()
            .groupBy(F.col(self.keys[0]).alias("partition"))
            .agg(F.count(F.lit(1)).alias("n_rows"))
        )
        return rows.join(files, "partition", "full_outer")

    @_locked
    def compact(
        self,
        partitions: Sequence[str] | None = None,
        target_file_bytes: int = 128 * 1024 * 1024,
        cluster: bool = False,
        files_per_partition: int | None = None,
    ) -> None:
        """Small-file compaction: repeated dynamic-overwrite rounds
        (upserts, deletes) leave each touched partition with one file
        per shuffle task per round; at 100 TB that metadata tax
        dominates scan planning. Rewrite the named partitions (or, with
        ``partitions=None``, every partition — an explicit full-table
        maintenance pass) coalescing each to ceil(bytes/target) files
        (or exactly ``files_per_partition`` when given).

        ``cluster=True`` additionally RANGE-CLUSTERS each partition's
        rows by row key (repartitionByRange + sortWithinPartitions),
        so the rewritten files carry disjoint row-key ranges and tight
        footer bounds — after which the manifest's data-skipping index
        prunes a point ``lookup`` to ONE file regardless of how many
        files the partition holds (the Z-order-lite maintenance pass a
        hot 100 TB partition wants). One extra exchange per partition,
        paid only at maintenance time, never on the write path.

        Row content is untouched — read-back is value-identical; only
        the physical file layout changes.

        Execution strategy (r8 batched the full-table pass; r12 the
        exact-count/explicit-partition face — r11 verdict item 1):
        EVERY compact now runs as ONE Spark job and ONE atomic
        manifest commit. The per-partition driver loop this replaces
        cost O(P) listings + O(P) sequential commits (922 s for 256
        buckets at the r11 ANN fixture — the manifest round-trips,
        not the data, dominated). Readers still see only
        whole-partition flips: the single commit is the degenerate
        every-K=all case, strictly coarser than per-partition
        atomicity. A FULL-TABLE pass without ``files_per_partition``
        keeps the size-driven global layout (:meth:`_compact_all`);
        the exact-count / explicit-list face goes through
        :meth:`_compact_partitions_batched`, which preserves the
        exact per-partition file-count contract via driver-side
        hash-preimage slotting (see there).
        """
        if not self.exists():
            return
        # falsy file counts (0/None) mean size-driven — the pre-r12
        # loop's `files_per_partition or ceil(bytes/target)` semantics
        if not files_per_partition:
            files_per_partition = None
        if partitions is None and files_per_partition is None:
            self._compact_all(target_file_bytes, cluster)
            return
        self._compact_partitions_batched(
            partitions, target_file_bytes, cluster, files_per_partition
        )

    def _compact_partitions_batched(
        self,
        partitions: Sequence[str] | None,
        target_file_bytes: int,
        cluster: bool,
        files_per_partition: int | None,
    ) -> None:
        """One-job, one-commit layout of the named partitions with an
        EXACT file count per partition (r11 verdict item 1).

        Exactness mechanism: each row gets a within-partition slot
        (``floor((row_number-1) · n / count)`` over the row-key order —
        n non-empty, range-disjoint slots whenever the partition holds
        ≥ n rows, ≤count files below that, matching the old
        per-partition ``repartitionByRange``), the (partition, slot)
        pair maps to a global slot id g, and g STRIDES across
        ``T = min(total_slots, max(n, _COMPACT_MAX_TASKS))`` shuffle
        tasks as ``g mod T`` — a driver-computed Murmur3 PRE-IMAGE int
        per residue makes ``repartition(T, preimage)`` place each
        residue class in its own task. Two slots of the SAME partition
        are consecutive g values at distance < n ≤ T, so they can
        never share a task — and the dynamic parquet writer emits one
        file per (task, partition-dir), i.e. exactly one file per
        slot. T ≪ total_slots keeps a 10⁴⁺-slot maintenance pass from
        spraying 10⁴⁺ single-file task commits (a 32k-task local
        write measurably flakes the FileOutputCommitter's attempt-dir
        mkdirs, and a cluster pays per-task commit RPCs). All layout
        math is JVM-side; the driver contributes two broadcast-joined
        mapping frames of size O(partitions) and O(tasks).

        Scale shape: the within-partition row numbering funnels each
        partition through one window task — partitions lay out in
        PARALLEL (the old loop serialized whole jobs). A partition
        whose live bytes exceed ``compact_funnel_max_bytes`` is
        auto-diverted (r12 verdict item 3) to a sampled-range
        sub-pass: its rows range-repartition across K chunk tasks,
        each chunk window-ranks locally, and a driver-side O(K+P)
        count map turns local ranks into exact global
        within-partition ranks — same slots, same exact file counts,
        same single commit, sort parallelism K instead of 1."""
        from pyspark.sql import Window

        prev_files = self._require_snapshot()["files"]
        scope = (
            {f.split("/", 1)[0] for f in prev_files}
            if partitions is None
            else {self._partition_dir_of(p) for p in partitions}
        )
        target_rels = [f for f in prev_files if f.split("/", 1)[0] in scope]
        if not target_rels:
            return
        touched = sorted({f.split("/", 1)[0] for f in target_rels})
        # ONE scoped listing serves both the size-driven file-count
        # targets and the oversized-partition divert threshold below
        # (never O(P) driver RPCs)
        sizes = self._data_file_sizes(set(touched))
        dir_bytes: dict[str, int] = {}
        for f in target_rels:
            d = f.split("/", 1)[0]
            dir_bytes[d] = dir_bytes.get(d, 0) + sizes.get(f, 0)
        # per-partition file-count targets: exact when given, else
        # size-driven
        if files_per_partition is None:
            n_of = {
                d: max(1, -(-int(dir_bytes.get(d, 0)) // target_file_bytes))
                for d in touched
            }
        else:
            # 0 was normalized to None (size-driven) in compact();
            # clamp the nonsensical negatives like coalesce() did
            n_of = {d: max(1, int(files_per_partition)) for d in touched}
        offsets: dict[str, int] = {}
        total_slots = 0
        for d in touched:
            offsets[d] = total_slots
            total_slots += n_of[d]
        # stride width: never below any partition's slot count (the
        # no-same-partition-collision proof needs T >= n), capped so
        # huge passes don't run one task per file
        n_tasks = min(
            total_slots, max(max(n_of.values()), self._COMPACT_MAX_TASKS)
        )
        preimages = _hash_slot_preimages(n_tasks)
        pk = self.keys[0]
        order_col = self.keys[1] if len(self.keys) > 1 else pk
        # Deterministic window order (ADVICE r12, merge.py:2375): for a
        # single-key table order_col == pk, so every row in the window
        # ties and row_number's slot assignment becomes recomputation-
        # dependent — a stage retry after a shuffle-fetch failure could
        # then duplicate or drop rows mid-rewrite (the classic
        # nondeterministic-repartition hazard). Tiebreak by a content
        # hash over every hashable column: ties then exist only among
        # fully identical rows, which are interchangeable, so the slot
        # MULTISET per task is stable across recomputation. MapType is
        # excluded (Spark's hash functions reject it); layout slotting
        # only needs a stable multiset per slot, and any hashable
        # column difference already breaks the tie. (Defined after the
        # branch reads below — it needs a schema.)
        # Oversized-partition divert (r12 verdict item 3): the
        # within-partition row_number window funnels each partition
        # through ONE task — fine for the hot-partition maintenance
        # face this path serves, a hard spill for a partition holding
        # tens of GB. Partitions above ``compact_funnel_max_bytes``
        # take a sampled-range sub-pass instead: range-repartition
        # their rows on (pk, order, tiebreak) across K chunk tasks,
        # pin the chunking (localCheckpoint), derive each chunk's
        # within-partition rank offset from a driver-side count map
        # (O(K + P) rows), and window-rank only WITHIN a chunk — the
        # sort parallelism is K, not 1, while ranks (and therefore
        # slots, file counts, and the single commit) stay exactly
        # what the funnel would have produced.
        big_dirs = sorted(
            d
            for d in touched
            if dir_bytes.get(d, 0) > self.compact_funnel_max_bytes
        )
        big_set = set(big_dirs)
        # each branch scans ONLY its own partitions' files — a shared
        # frame under two consumers would re-run the full scan per
        # branch (no common-subexpression reuse across union arms)
        small_rels = [
            f for f in target_rels if f.split("/", 1)[0] not in big_set
        ]
        big_rels = [
            f for f in target_rels if f.split("/", 1)[0] in big_set
        ]
        rows_small = (
            self._read_rels(self.spark, small_rels) if small_rels else None
        )
        rows_big = (
            self._read_rels(self.spark, big_rels) if big_rels else None
        )
        schema_probe = rows_small if rows_small is not None else rows_big
        _tiebreak_cols = [
            F.col(fld.name)
            for fld in schema_probe.schema.fields
            if "MapType" not in type(fld.dataType).__name__
        ]
        _tiebreak = (
            F.xxhash64(*_tiebreak_cols) if _tiebreak_cols else F.lit(0)
        )
        # partition-value → (n, offset, divert?) mapping, joined
        # null-safely on the STRING form (the unescaped directory
        # value round-trips through CAST(pk AS STRING) for every
        # partitionable type)
        part_map = self.spark.createDataFrame(
            [
                (
                    self._partition_value_of_dir(d),
                    n_of[d],
                    offsets[d],
                    d in big_set,
                )
                for d in touched
            ],
            "__cp_pk string, __cp_n int, __cp_off int, __cp_big boolean",
        )
        slot_map = self.spark.createDataFrame(
            [(r, x) for r, x in enumerate(preimages)],
            "__cp_r int, __cp_x int",
        )
        w_rank = Window.partitionBy(pk).orderBy(
            F.col(order_col), _tiebreak
        )
        w_all = Window.partitionBy(pk)
        # LEFT join + an evaluated assert, not an inner join: if the
        # CAST(pk AS STRING) ↔ directory-value round-trip ever
        # disagreed for a partition, an inner join would silently DROP
        # its rows while the commit below still retires the old files
        # — silent data loss from a "layout-only" operation. The
        # assert is the OUTERMOST coalesce branch of the slot id:
        # a matched row's id is never null (all inputs non-null), an
        # unmatched row's id is null end-to-end (Spark's
        # null-intolerant arithmetic short-circuits without touching
        # inner operands, so an inner guard would never evaluate),
        # and coalesce's lazy second branch then raises. Being the
        # consumed slot expression also means Catalyst cannot prune it.
        slot_raw = (
            F.col("__cp_off")
            # row_number is 32-bit: promote before the * n product
            # (a 10⁹-row partition × 10⁴ slots overflows int)
            + F.floor(
                (F.row_number().over(w_rank).cast("long") - 1)
                * F.col("__cp_n")
                / F.count(F.lit(1)).over(w_all)
            )
        ).cast("int")
        _layout_guard = F.assert_true(
            F.lit(False),
            F.lit(
                "compact layout join dropped rows: a"
                f" partition value of {self.path} failed"
                " the string round-trip — aborting before"
                " any file retires"
            ),
        ).cast("int")

        def _join_part_map(df):
            return df.join(
                F.broadcast(part_map),
                F.col(pk).cast("string").eqNullSafe(F.col("__cp_pk")),
                "left",
            )

        slotted = None
        if rows_small is not None:
            slotted = _join_part_map(rows_small).withColumn(
                "__cp_g", F.coalesce(slot_raw, _layout_guard)
            )
        range_chunks = 0
        if big_dirs:
            # chunk count ∝ diverted bytes; each oversized dir gets
            # ≥2 chunks by construction (bytes > threshold), capped
            # like every layout pass so local task commits don't flake
            range_chunks = min(
                self._COMPACT_MAX_TASKS,
                sum(
                    -(-int(dir_bytes[d]) // self.compact_funnel_max_bytes)
                    for d in big_dirs
                ),
            )
            rr = (
                _join_part_map(rows_big)
                .repartitionByRange(
                    range_chunks, F.col(pk), F.col(order_col), _tiebreak
                )
                .withColumn("__cp_pid", F.spark_partition_id())
                # pin chunk ids + range boundaries: the count job and
                # the layout job below MUST see the identical chunking
                # (not fault-tolerant — a lost block fails the job
                # before the commit, never corrupts it). LAZY (r14):
                # the chunk-count collect right below is the first
                # action, so the sampling + chunk assignment happen
                # exactly once INSIDE it and the blocks persist from
                # that computation — same identical-chunking guarantee,
                # one fewer full materialization job.
                .localCheckpoint(eager=False)
            )
            chunk_counts = rr.groupBy("__cp_pid", "__cp_pk").count().collect()
            # per-partition totals and per-chunk rank offsets: range
            # partitioning on (pk, order) makes chunk ids ascend with
            # the within-partition order, so the offset of a chunk is
            # the row count of that partition's lower-id chunks
            totals: dict = {}
            for r in chunk_counts:
                totals[r["__cp_pk"]] = totals.get(r["__cp_pk"], 0) + r["count"]
            roff: dict = {}
            rmap_rows = []
            for r in sorted(
                chunk_counts, key=lambda r: (r["__cp_pk"] or "", r["__cp_pid"])
            ):
                k = r["__cp_pk"]
                rmap_rows.append(
                    (r["__cp_pid"], k, roff.get(k, 0), totals[k])
                )
                roff[k] = roff.get(k, 0) + r["count"]
            rank_map = self.spark.createDataFrame(
                rmap_rows,
                "__cp_pid2 int, __cp_pk2 string, __cp_roff long,"
                " __cp_cnt long",
            )
            w_chunk = Window.partitionBy("__cp_pid", "__cp_pk").orderBy(
                F.col(order_col), _tiebreak
            )
            diverted = (
                rr.join(
                    F.broadcast(rank_map),
                    (F.col("__cp_pid") == F.col("__cp_pid2"))
                    & F.col("__cp_pk").eqNullSafe(F.col("__cp_pk2")),
                    "inner",  # built from rr's own groupBy — total
                )
                .withColumn(
                    "__cp_g",
                    # same guard as the funnel branch: a round-trip
                    # failure leaves __cp_off/__cp_n null → null slot
                    # → the evaluated assert aborts instead of the
                    # final inner slot_map join silently dropping rows
                    F.coalesce(
                        (
                            F.col("__cp_off")
                            + F.floor(
                                (
                                    F.row_number()
                                    .over(w_chunk)
                                    .cast("long")
                                    + F.col("__cp_roff")
                                    - 1
                                )
                                * F.col("__cp_n")
                                / F.col("__cp_cnt")
                            )
                        ).cast("int"),
                        _layout_guard,
                    ),
                )
                .drop("__cp_pid", "__cp_pid2", "__cp_pk2", "__cp_roff",
                      "__cp_cnt")
            )
            slotted = (
                slotted.unionByName(diverted)
                if slotted is not None
                else diverted
            )
        self.last_compact_stats = {
            "diverted_dirs": big_dirs,
            "range_chunks": range_chunks,
            "n_tasks": n_tasks,
        }
        laid_out = (
            slotted.withColumn(
                "__cp_r", F.pmod(F.col("__cp_g"), F.lit(n_tasks)).cast("int")
            )
            .join(F.broadcast(slot_map), "__cp_r", "inner")
            .repartition(n_tasks, F.col("__cp_x"))
        )
        if cluster and len(self.keys) > 1:
            # slots are already range-disjoint on the row key (the
            # row_number order); in-file ordering completes the tight,
            # non-overlapping footer bounds a point lookup prunes on.
            # pk leads the sort: a task holds many partitions' slots
            laid_out = laid_out.sortWithinPartitions(pk, self.keys[1])
        laid_out = laid_out.drop(
            "__cp_pk", "__cp_n", "__cp_off", "__cp_big", "__cp_g",
            "__cp_r", "__cp_x",
        )
        # ONE atomic commit for the whole maintenance pass
        self._append_and_commit(laid_out, "compact", scope)

    def _compact_all(self, target_file_bytes: int, cluster: bool) -> None:
        """Whole-table compaction as one job + one commit (see
        :meth:`compact`). Layout: ``cluster=True`` range-partitions the
        table globally on (partition key, row key) — each output task
        holds one contiguous key range, so every partition directory
        gets ~``its_bytes/target`` files with disjoint, sorted row-key
        ranges (tight footer bounds, point lookups prune to one file).
        ``cluster=False`` is a shuffle-free ``coalesce``: a partition
        read lists each directory's files contiguously, so coalesced
        tasks span few directories and small files merge without
        moving a byte between executors."""
        prev_files = self._require_snapshot()["files"]
        sizes = self._data_file_sizes()
        total_bytes = sum(sizes.get(f, 0) for f in prev_files)
        n_files = max(1, -(-int(total_bytes) // target_file_bytes))
        rows = self._read_files(self.spark, prev_files)
        pk = self.keys[0]
        # single-key tables range-cluster on the partition key alone
        order_cols = [F.col(k) for k in self.keys[:2]]
        if cluster:
            laid_out = rows.repartitionByRange(
                n_files, *order_cols
            ).sortWithinPartitions(*[k for k in self.keys[:2]])
        else:
            laid_out = rows.coalesce(n_files)
        before = set(sizes)
        (
            laid_out.write.mode("append")
            .partitionBy(pk)
            .parquet(self.path)
        )
        new_files = [
            f for f in self._list_data_files() if f not in before
        ]
        # every partition was rewritten: live = the fresh layout,
        # the entire previous file set retires in ONE version flip
        self._commit_snapshot(new_files, op="compact")

    def compact_if(
        self,
        max_files_per_partition: int = 8,
        target_file_bytes: int = 128 * 1024 * 1024,
        cluster: bool = True,
    ) -> list:
        """Manifest-metadata maintenance trigger: compact ONLY the
        partitions whose LIVE file count exceeds the threshold. The
        decision reads the current manifest — no filesystem walk, no
        data pass — so a scheduler can call this after every ingest
        tick for free and pay the rewrite only when repeated upserts
        have actually fragmented a partition (each dynamic-overwrite
        round adds one file per shuffle task). Returns the partition
        VALUES compacted (empty = nothing exceeded the threshold).

        Scale note: the exact-count layout window-ranks each
        partition in one task (spill-backed sort, parallel across
        partitions) UNTIL a partition's live bytes exceed
        ``compact_funnel_max_bytes`` — beyond that the pass
        auto-diverts it to a sampled-range K-chunk sub-pass (r12
        verdict item 3), so a tens-of-GB hot partition no longer
        sorts in a single task. ``compact(partitions=None)`` (the
        size-driven full-table pass) remains the right call for a
        table whose partitions are ALL huge."""
        if not self.exists():
            return []
        counts: dict[str, int] = {}
        for f in self._require_snapshot()["files"]:
            d = f.split("/", 1)[0]
            counts[d] = counts.get(d, 0) + 1
        hot = sorted(
            d for d, c in counts.items() if c > max_files_per_partition
        )
        if not hot:
            return []
        values = [self._partition_value_of_dir(d) for d in hot]
        self.compact(
            partitions=values,
            target_file_bytes=target_file_bytes,
            cluster=cluster,
        )
        return values

    def expire_history(self, keep_last: int = 10) -> int:
        """Delete all but the newest ``keep_last`` per-version
        ``_history`` manifests, bounding metadata growth of an
        actively-written table. Expired versions stop resolving for
        ``read(version=)`` / ``changes()`` (the standard Delta-vacuum
        / Iceberg-expire_snapshots trade; a ChangeFeed whose cursor
        has fallen behind the horizon fails loudly on its next poll
        rather than silently skipping). The CURRENT manifest
        (`_SNAPSHOT`) is untouched. Returns the number of version
        docs deleted.

        Before deltas are dropped, a compacted checkpoint is
        materialized at the OLDEST surviving version so every kept
        version still reconstructs (checkpoint + tail deltas);
        checkpoints older than the horizon are dropped with their
        deltas and the pointer's checkpoint list is rewritten under
        the same lock. A torn pointer is refused before anything is
        deleted."""
        import re

        with self._write_lock():
            versions, ckpts = [], []
            for name in self._store.list_names(self._history_dir_uri()):
                m = re.fullmatch(r"v(\d+)\.json", name)
                if m:
                    versions.append(int(m.group(1)))
                m = re.fullmatch(r"ckpt_v(\d+)\.json", name)
                if m:
                    ckpts.append(int(m.group(1)))
            versions.sort()
            drop = versions[:-keep_last] if keep_last > 0 else versions
            if not drop:
                return 0
            # never drop the version the live manifest points at
            pointer = self._read_pointer()
            cur = int(pointer["version"])
            drop = [v for v in drop if v != cur]
            if not drop:
                return 0
            kept = [v for v in versions if v not in set(drop)]
            horizon = min(kept) if kept else cur
            # materialize the fold base at the horizon BEFORE the
            # older deltas vanish (unless a checkpoint is already
            # there). The POINTER's checkpoint list is the source of truth
            # (ADVICE r11): an on-disk ckpt_v*.json the pointer never
            # referenced may be a crashed writer's orphan whose content
            # disagrees with the retried commit at the same version —
            # adopting it would let _fold_state pick a wrong fold base
            # and reconstruct ghost/missing rows. Never promote
            # unreferenced files; delete them instead.
            ptr_ckpts = sorted({int(c) for c in pointer["checkpoints"]})
            if horizon not in ptr_ckpts:
                # _state_at folds only pointer-referenced checkpoints,
                # so this base is trustworthy even if an orphan ckpt
                # file squats at this version (the atomic write below
                # overwrites it)
                state = self._state_at(int(horizon))
                self._write_json_atomic(
                    self._ckpt_uri(horizon),
                    {
                        "version": int(horizon),
                        "files": list(state["files"]),
                        "stats": state["stats"],
                    },
                )
                ptr_ckpts.append(int(horizon))
            for v in drop:
                self._store.delete(self._history_uri(v))
            live_ckpts = sorted(c for c in set(ptr_ckpts) if c >= horizon)
            # reap every on-disk checkpoint that is not live:
            # referenced-but-below-horizon (their deltas are gone) AND
            # never-referenced orphans
            for c in set(ckpts) - set(live_ckpts):
                self._store.delete(self._ckpt_uri(c))
            if live_ckpts != sorted(int(c) for c in pointer["checkpoints"]):
                self._write_snapshot_atomic(
                    {**pointer, "checkpoints": live_ckpts}
                )
            return len(drop)

    def _partition_value_of_dir(self, dirname: str):
        """Inverse of :meth:`_partition_dir_of`: the partition VALUE
        encoded by a ``<key>=<escaped>`` directory name."""
        raw = dirname[len(self.keys[0]) + 1:]
        if raw == "__HIVE_DEFAULT_PARTITION__":
            return None
        jvm = self.spark._jvm
        return (
            jvm.org.apache.spark.sql.catalyst.catalog
            .ExternalCatalogUtils.unescapePathName(raw)
        )

    @_locked
    def upsert_replace_partitions(self, new: DataFrame) -> None:
        """Replace-upsert restricted to the partitions present in
        ``new`` — append + manifest flip, no full-table rewrite. A
        driver-sized batch runs on Arrow in 2 Spark jobs; a larger or
        drifted one, and the first write into an empty table, run on
        Spark (class docstring, "DRIVER-SIZED VERBS"). On a duplicate
        key the first occurrence wins; an empty-string partition key
        lands in the NULL partition, where Spark's writer files it.

        The Spark merge plan lazily scans the OLD files of the touched
        partitions while the append writes the new ones — safe by
        construction, because nothing is deleted until the commit
        after the write completes. Reads and writes go through
        ``new``'s OWN session: under ``foreachBatch`` the micro-batch
        DataFrame belongs to a cloned session.
        """
        new = self._empty_partition_as_null(new)
        if not self.exists():
            # unlocked inner form: this verb already holds the lock
            self._overwrite_unlocked(new.dropDuplicates(list(self.keys)))
            return
        # PIN the incoming frame before ANY of it is observed (ADVICE
        # r10): the COW split proves files clean against one evaluation
        # of ``new``'s keys, and the write evaluates it again — a
        # nondeterministic plan (sample / limit / rand-derived keys)
        # could write a key that collides with a file the split
        # already cleared, committing duplicate keys. LAZY (r14): the
        # routing aggregate is the first action and materializes it.
        new = new.localCheckpoint(eager=False)
        # dtype alignment BEFORE the split/append decision (ADVICE r10,
        # high): a batch whose column dtype drifted (int vs stored
        # bigint) appended verbatim would commit mixed-type files and
        # poison later reads (Spark 4.1 refuses to merge the mixed
        # footers: CANNOT_MERGE_SCHEMAS). Losslessly upcastable drift is cast to the stored
        # type here; WIDER / incompatible drift rewrites the touched
        # partitions through unionByName's coercion at the widened type.
        aligned = self._align_for_append(new)
        self._merge_touched(
            new if aligned is None else aligned, "upsert",
            drift=aligned is None,
        )
