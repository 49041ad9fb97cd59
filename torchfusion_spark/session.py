"""Session factory — the Spark analogue of the reference's
``configure_context()`` (reference src/lib.rs:118-137): information_schema
on, config extension registered, default engine features, function factory
installed, ``argmax`` pre-registered.

Designed for cluster scale even though tests run local: AQE (runtime
re-planning + skew-join), Arrow-batched Python exchange, UTC session time,
shuffle parallelism sized from the environment instead of the 200 default.
"""

from __future__ import annotations

import contextlib
import functools
import operator
import os
import threading
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from torchfusion_spark import config as tf_config


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def cpu_fanout(df, rows_per_task: int = 128):
    """Repartition a (possibly single-split) input for CPU-bound per-row
    work: width = clamp(rows / rows_per_task, 1, default_parallelism()).

    A local single-file parquet arrives as ONE split, serializing every
    downstream Python/codegen-heavy pass onto one core — but blindly
    fanning a few hundred rows to 32 partitions costs more in task launch
    and Python-worker spawn than the work itself. The row count is a
    metadata-cheap action on columnar sources; at cluster scale the width
    saturates at full parallelism and this is a no-op-sized rebalance."""
    n = df.count()
    width = max(1, min(default_parallelism(), -(-n // rows_per_task)))
    return df.repartition(width)


def staged_cache(spark, slot: str, df):
    """``cache()`` with release tracking for session-staged relations.

    Every staged relation (minhash signatures, similarity norms, …) is
    memoized per (session, loaded tables); when the memo key changes
    (sf_dir switch) the superseded cache must be unpersisted or executor
    storage grows without bound across invocations. Keyed by
    ``slot``: caching into an occupied slot releases the previous
    DataFrame first. Returns the cached (not yet materialized) DataFrame.
    """
    pool = spark.__dict__.setdefault("_tf_staged_pool", {})
    with _slot_lock(spark, slot):
        prev = pool.get(slot)
        if prev is not None:
            try:
                prev.unpersist()
            except Exception:  # noqa: BLE001 — release is best-effort
                pass
        cached = df.cache()
        pool[slot] = cached
        return cached


def staged_checkpoint(spark, slot: str, df):
    """``localCheckpoint()`` with release tracking (same contract as
    :func:`staged_cache`, for the staging shapes where the cache manager
    fails to substitute the cached plan — see ``operators.dedup.containment``).

    The checkpointed Dataset's logical plan is a ``LogicalRDD`` wrapping
    the persisted internal RDD, so ``analyzed().rdd()`` on the *result*
    is the handle the block manager holds; unpersisting it on slot reuse
    frees the executor blocks (mechanism verified against
    ``sc.getPersistentRDDs`` in tests/test_extensions.py).

    Order matters: the new checkpoint materializes (localCheckpoint is
    eager) BEFORE the superseded one is released — a local checkpoint
    truncates lineage, so an iterative builder whose round N+1 plan reads
    round N's blocks would lose data under release-first."""
    pool = spark.__dict__.setdefault("_tf_ck_pool", {})
    with _slot_lock(spark, slot):
        return _staged_checkpoint_locked(spark, pool, slot, df)


def _staged_checkpoint_locked(spark, pool, slot, df):
    with _ck_pool_lock(spark):
        prev = pool.get(slot)
    ck = df.localCheckpoint()
    if prev is not None:
        # contract: the caller must have materialized any DataFrame built
        # on the superseded checkpoint — its lineage is truncated, so a
        # stale handle fails with a lost-block error after this release.
        # Slot reuse is logged so that failure is attributable; all
        # registry/gate flows materialize before re-invoking.
        import logging

        logging.getLogger(__name__).debug(
            "staged_checkpoint: slot %r reused — releasing superseded "
            "localCheckpoint blocks (any unmaterialized reader of the old "
            "slot will fail with a lost-block error)",
            slot,
        )
        try:
            prev.unpersist(False)
        except Exception:  # noqa: BLE001 — release is best-effort
            pass
    try:
        handle = ck._jdf.queryExecution().analyzed().rdd()
    except Exception:  # noqa: BLE001 — never fail staging over the release handle
        handle = None
    with _ck_pool_lock(spark):
        if handle is not None:
            pool[slot] = handle
        else:
            pool.pop(slot, None)
    return ck


def _protected_nonces(spark, keep_nonce: int | None) -> set[int]:
    """Nonces whose staging groups must survive a release sweep: the
    caller's own (``keep_nonce``) plus any nonce issued to a DIFFERENT
    thread that is still alive — its builder may be mid-loop, and
    localCheckpoint lineage truncation makes a premature release
    unrecoverable. A dead thread's nonce is by definition superseded
    (one thread cannot have two in-flight iterative builders)."""
    live = {t.ident for t in threading.enumerate()}
    me = threading.get_ident()
    # snapshot under the same lock staging_nonce inserts with — a first
    # nonce issued to a NEW thread mid-iteration is a dict resize, the
    # same race class as the _tf_ck_pool sweep
    with _STAGING_NONCE_LOCK:
        items = list(spark.__dict__.get("_tf_thread_nonces", {}).items())
    out = {n for tid, n in items if tid != me and tid in live}
    if keep_nonce is not None:
        out.add(keep_nonce)
    return out


@contextlib.contextmanager
def _slot_lock(spark, slot: str):
    """Per-slot lock (as a context manager) serializing the whole
    read-prev → build → store sequence of :func:`staged_cache` /
    :func:`staged_checkpoint`. The pool lock alone only protects the dict
    operations: two threads staging the SAME slot concurrently would both
    read the same ``prev`` (double unpersist) and the loser's checkpoint
    blocks would leak when the winner overwrites the pool entry — the
    unbounded-executor-storage class the slot pool exists to prevent.
    Distinct slots never contend, so the parallel prewarm keeps its
    concurrency.

    REFCOUNTED handout: the Lock object is obtained and its
    per-slot refcount incremented atomically under the pool lock, and the
    refcount is decremented (under the pool lock again) only after the
    critical section exits. ``release_staged_group``'s registry prune
    skips any slot with an outstanding handout, which closes the window
    a try-acquire probe narrows but cannot close: a thread that had
    obtained the Lock object from the registry but not yet entered its
    ``with`` block was invisible to ``acquire(blocking=False)``, so the
    sweep could pop the entry and let a later call mint a SECOND Lock
    for the same slot — two "holders" of one slot, recreating the
    double-unpersist the lock exists to prevent. With the refcount taken
    under the same pool lock that serializes handout and prune, a handout
    is either visible to the prune (refcount > 0 → skip) or happens after
    the pop (fresh Lock, but the old one had no holder)."""
    with _ck_pool_lock(spark):
        locks = spark.__dict__.setdefault("_tf_slot_locks", {})
        refs = spark.__dict__.setdefault("_tf_slot_lock_refs", {})
        lk = locks.setdefault(slot, threading.Lock())
        refs[slot] = refs.get(slot, 0) + 1
    try:
        with lk:
            yield lk
    finally:
        with _ck_pool_lock(spark):
            refs = spark.__dict__.get("_tf_slot_lock_refs", {})
            n = refs.get(slot, 0) - 1
            if n <= 0:
                refs.pop(slot, None)
            else:
                refs[slot] = n


def memo_lock(spark, name: str):
    """Named per-session lock (context manager) for a memo's
    check-then-act: a user query racing the parallel prewarm through an
    unguarded memo would double-build the relation and double-stage its
    slot. :func:`staged` takes one per table entry; the few builders
    outside the table (iterative and on-disk ones) take their own.
    Backed by the same per-session refcounted lock registry as
    :func:`_slot_lock`, under a ``memo:`` namespace."""
    return _slot_lock(spark, f"memo:{name}")


def view_key(spark, view: str):
    """Identity of a live source view (``documents``, ``embeddings``) for
    staged-memo keying: (load_tables key, semantic plan hash of the view).
    The plan hash makes a direct view swap — the property-test pattern,
    which does not bump ``_tf_tables_loaded`` — invalidate every relation
    derived from the view; a tables-key-only memo would keep serving the
    previous corpus to downstream joins. An un-analyzable view yields a
    fresh ``object()``, so it always rebuilds."""
    try:
        return (getattr(spark, "_tf_tables_loaded", None), spark.table(view).semanticHash())
    except Exception:  # noqa: BLE001 — unknown plan identity → always rebuild
        return object()


@dataclass(frozen=True)
class Staged:
    """One session-staged relation: a corpus-derived DataFrame stored once
    per (source-view identity, params) and read by many queries.

    ``views`` are the temp views it registers, in build order; a name may
    hold ``{param}`` fields, which gives each parameter set its own views
    and slots. ``build(spark, **params)`` returns the DataFrame of a
    one-view entry, or a generator that yields one DataFrame per view —
    each is stored and registered before the next is asked for, so a
    later view may read an earlier one, and code after the last yield
    runs once everything is stored. ``store`` is ``cache``,
    ``checkpoint`` (for plans the cache manager fails to substitute, such
    as a CTE inside a cached view) or ``view`` (register only). ``slots``
    override the storage slot names, which default to the view names
    without the leading ``__``."""

    views: tuple[str, ...]
    build: Callable
    source: str = "documents"
    deps: tuple[str, ...] = ()
    store: str = "cache"
    params: dict = field(default_factory=dict)
    slots: tuple[str, ...] = ()


@functools.cache
def _table() -> dict[str, Staged]:
    """The staged relations, deps before dependents. Built on first use:
    the build functions live beside their SQL in the operator modules,
    which import this one."""
    from torchfusion_spark.operators import dedup
    from torchfusion_spark.operators import multimodal as mm
    from torchfusion_spark.operators import similarity as sim
    from torchfusion_spark.operators import textstats as ts

    emb = "embeddings"
    return {
        # the source views fanned out to full parallelism: a small
        # parquet file arrives as ONE split, and every signature pass
        # over it is CPU-bound
        "docs": Staged(("__dedup_docs",), lambda s: cpu_fanout(s.table("documents")), store="view"),
        "emb": Staged(("__sim_emb",), lambda s: cpu_fanout(s.table(emb)), source=emb, store="view"),
        "hx": Staged(("__tf_hx",), dedup.hx_rel, deps=("docs",)),
        "unigrams": Staged(("__tf_unigrams",), ts.unigrams_rel, deps=("docs",)),
        "substring_grams": Staged(
            ("__tf_subgrams",), dedup.subgrams_rel, deps=("docs",),
            params={"k": dedup.SUBSTRING_K},
        ),
        "lines": Staged(
            ("__tf_lines_{w}",), dedup.lines_rel, deps=("docs",), params={"w": dedup.LINE_W}
        ),
        "pack_t": Staged(
            ("__tf_pack_t_{shards}",), ts.pack_t_rel, deps=("docs",),
            # the partition count is part of the staged layout: the
            # cumsum window is exchange-free only for the partitioning
            # the cache was built with, so a conf change re-stages
            params={
                "shards": ts.PACK_SHARDS,
                "npart": lambda s: int(s.conf.get("spark.sql.shuffle.partitions")),
            },
            slots=("pack_t_{shards}",),
        ),
        "simhash_sig": Staged(
            ("__simhash_sig", "__simhash_ok"), dedup.simhash_sig_rels, deps=("docs",),
            params={"bits": 32},
        ),
        "phash": Staged(("__mm_phash", "__mm_phash_ok"), mm.phash_rels),
        "frame_phash": Staged(("__mm_fphash", "__mm_fphash_ok"), mm.frame_phash_rels),
        "dupgram": Staged(("__dupgram_e",), ts.dupgram_rel),
        "sim_norms": Staged(("__sim_norms",), sim.norms_rel, source=emb, deps=("emb",)),
        "minhash_sig": Staged(
            ("__minhash_sig", "__minhash_ok"), dedup.minhash_sig_rels, deps=("hx",)
        ),
        "containment": Staged(
            ("__contain_sh", "__contain_sizes"), dedup.containment_rels, deps=("hx",),
            store="checkpoint", params={"max_df": dedup.CONTAIN_MAX_DF},
        ),
        "bloom": Staged(("__tf_bench_h", "__tf_bloom"), ts.bloom_rels, deps=("hx",)),
        "cls_labels": Staged(
            ("__tf_cls_labels",), ts.cls_labels_rel, deps=("unigrams", "docs"),
            store="checkpoint", slots=("cls_labels",),
        ),
        "sim_assign": Staged(
            ("__sim_assign_{n_centroids}",), sim.assign_rel, source=emb, deps=("sim_norms",),
            params={"n_centroids": 16},
        ),
        "sim_buckets": Staged(
            ("__sim_buckets", "__sim_lsh_ok"), sim.buckets_rels, source=emb, deps=("sim_norms",)
        ),
        "minhash_clusters": Staged(
            ("__minhash_clusters",), dedup.clusters_rel, deps=("minhash_sig",),
            params={"threshold": 0.6},
        ),
    }


def _instance(spark, name: str, params: dict):
    """(entry, resolved params, views, slots) of one parameter set of a
    table entry."""
    entry = _table()[name]
    unknown = set(params) - set(entry.params)
    if unknown:
        raise TypeError(f"staged relation {name!r} takes no params {sorted(unknown)}")
    p = {k: v(spark) if callable(v) else v for k, v in {**entry.params, **params}.items()}
    views = tuple(v.format(**p) for v in entry.views)
    slots = tuple(s.format(**p) for s in entry.slots) or tuple(v[2:] for v in views)
    return entry, p, views, slots


def _live_key(spark, entry: Staged, p: dict):
    return view_key(spark, entry.source), tuple(sorted(p.items()))


def _memo(spark, name: str) -> dict:
    """views → (key, slots) of every parameter set of ``name`` staged in
    this session; only touched under ``name``'s memo lock."""
    return spark.__dict__.setdefault("_tf_staged_keys", {}).setdefault(name, {})


def staged(spark, name: str, then=None, **params):
    """Resolve the table entry ``name`` for ``params``: build it unless
    it is already staged under the live key (source-view identity plus
    params), then return ``then(*views)`` — or, without ``then``, the
    view name (the tuple of names for a multi-view entry).

    On a miss the deps resolve first, then each view is stored, counted
    (the multi-sided readers must not race each other into the fill) and
    registered; the other parameter sets of ``name`` that were staged
    under a superseded source identity are released, slots and views, so
    executor storage stays bounded across corpus swaps. ``then`` runs
    INSIDE the memo lock: a consumer resolving its plan after release
    could race a concurrent source-view swap and bind the plan to the
    other corpus. Consumers of several entries use :func:`bind`."""
    memo = _memo(spark, name)
    with memo_lock(spark, name):
        entry, p, views, slots = _instance(spark, name, params)
        key = _live_key(spark, entry, p)
        if memo.get(views, (None,))[0] != key:
            memo.pop(views, None)  # a failed rebuild must not leave a stale key fresh
            for dep in entry.deps:
                staged(spark, dep)
            built = entry.build(spark, **p)
            dfs = built if isinstance(built, Iterator) else iter((built,))
            for view, slot, df in zip(views, slots, dfs):
                if entry.store == "cache":
                    df = staged_cache(spark, slot, df)
                    df.count()
                elif entry.store == "checkpoint":
                    df = staged_checkpoint(spark, slot, df)  # eager
                df.createOrReplaceTempView(view)
            for _ in dfs:  # the build's tail, e.g. freeing its scratch
                pass
            for other, (k, other_slots) in list(memo.items()):
                if k[0] != key[0]:
                    _release(spark, other, other_slots)
                    del memo[other]
            memo[views] = (key, slots)
        if then is not None:
            return then(*views)
    return views[0] if len(views) == 1 else views


def _release(spark, views, slots) -> None:
    """Unpersist the slots and drop the views of a superseded staging:
    the views alone would stay resolvable and silently recompute the old
    corpus."""
    for view, slot in zip(views, slots):
        with _slot_lock(spark, slot), _ck_pool_lock(spark):
            handles = [spark.__dict__.get(p, {}).pop(slot, None) for p in _POOLS]
        try:
            for h in handles:
                if h is not None:
                    h.unpersist(False)
            spark.catalog.dropTempView(view)
        except Exception:  # noqa: BLE001 — release is best-effort
            pass


_POOLS = ("_tf_staged_pool", "_tf_ck_pool")


def staged_keys(spark, name: str, **params):
    """(stored key, live key) of one parameter set of ``name``: equal
    exactly when the staged views describe the live source view. Read
    them under the entry's memo lock (inside a ``then``) for a stable
    answer."""
    entry, p, views, _ = _instance(spark, name, params)
    return _memo(spark, name).get(views, (None,))[0], _live_key(spark, entry, p)


def forget_staged(spark, name: str) -> None:
    """Drop ``name``'s memo so its next resolution rebuilds (the slot
    reuse then releases the superseded storage)."""
    with memo_lock(spark, name):
        _memo(spark, name).clear()


_STALE = object()


def bind(spark, names, then, **params):
    """Resolve a plan over SEVERAL staged entries with a consistency
    proof: ``then`` gets every entry's views (flattened, in ``names``
    order) and runs with all their memo locks held. Nesting the locks
    alone does not make the bind atomic — each entry validates against
    the source key it reads at its own entry, so a view swap between
    two of them leaves one bound to corpus A and the other to B. While
    all locks are held no stored key can change; if each equals its live
    key, every view and the plan's source are one corpus. Otherwise the
    whole nest retries (bounded: two failures in a row need a third
    concurrent swapper).

    Locks are taken dependent before dep, ties in table order — the
    order :func:`staged` itself acquires deps in, so no two paths can
    deadlock. ``params`` go to each entry that declares them."""
    table = list(_table())
    order = sorted(names, key=lambda n: (-_depth(n), table.index(n)))
    scoped = {n: {k: v for k, v in params.items() if k in _table()[n].params} for n in names}
    got = {}

    def nest(i):
        if i == len(order):
            if all(operator.eq(*staged_keys(spark, n, **scoped[n])) for n in order):
                return then(*(v for n in names for v in got[n]))
            return _STALE

        def inner(*views):
            got[order[i]] = views
            return nest(i + 1)

        return staged(spark, order[i], inner, **scoped[order[i]])

    for _ in range(8):
        out = nest(0)
        if out is not _STALE:
            return out
    raise RuntimeError(f"source views kept changing while binding {list(names)}")


@functools.cache
def _depth(name: str) -> int:
    return 1 + max((_depth(d) for d in _table()[name].deps), default=-1)


def _ck_pool_lock(spark) -> threading.Lock:
    """Session-scoped lock serializing checkpoint-pool mutation against
    release sweeps. ``staged_checkpoint`` inserts into ``_tf_ck_pool``
    from builder threads while ``release_staged_group`` iterates it from
    a consumer thread (the parallel bench prewarm runs minhash_clusters
    — whose tail releases its CC scratch — concurrently with the
    containment builder's checkpoint insert); an unguarded insert during
    the sweep's comprehension raises RuntimeError('dictionary changed
    size during iteration'). ``setdefault`` on the instance dict is
    atomic under the GIL, so two threads cannot mint two locks."""
    return spark.__dict__.setdefault("_tf_ck_pool_lock", threading.Lock())


def release_staged_group(spark, prefix: str, keep_nonce: int | None = None) -> int:
    """Release every checkpoint-pool slot starting with ``prefix`` except
    protected groups — the cross-call half of the staging lifecycle: a
    nonce isolates one iterative call's slots from a concurrent call's,
    and the *next* call (or the downstream consumer that has materialized
    the result) releases the superseded group. Protected = the caller's
    ``keep_nonce`` AND any nonce belonging to another still-running
    thread (an in-flight sibling is concurrent, not superseded).
    Callers must materialize a builder's returned DataFrame before
    invoking the same builder again — all registry/gate flows do.
    Returns the number of slots released."""
    pool = spark.__dict__.get("_tf_ck_pool", {})
    tags = {f"_{n}" for n in _protected_nonces(spark, keep_nonce)}
    released = 0
    with _ck_pool_lock(spark):
        victims = [s for s in pool if s.startswith(prefix)]
    for slot in victims:
        if any(slot.endswith(t) or f"{t}_" in slot for t in tags):
            continue
        with _ck_pool_lock(spark):
            handle = pool.pop(slot, None)
            # prune the slot's Lock with its pool entry: nonce-scoped
            # slots get a fresh name per iterative call, so an unpruned
            # registry grows ~4 Lock objects per connected_components
            # call for the life of the session.
            # Prune ONLY when no handout is outstanding:
            # _slot_lock increments the slot's refcount under this same
            # pool lock BEFORE it can acquire, so refcount == 0 here
            # proves no thread holds — or is about to enter — the Lock;
            # the r8 acquire(blocking=False) probe missed a thread that
            # had obtained the Lock object but not yet entered its
            # ``with`` block, leaving the double-unpersist window open.
            # A referenced lock simply stays registered; nonce-scoped
            # names are never re-staged after their group is superseded,
            # so the registry stays bounded anyway.
            if spark.__dict__.get("_tf_slot_lock_refs", {}).get(slot, 0) == 0:
                spark.__dict__.get("_tf_slot_locks", {}).pop(slot, None)
        if handle is None:
            continue
        try:
            handle.unpersist(False)
        except Exception:  # noqa: BLE001 — release is best-effort
            pass
        released += 1
    return released


_STAGING_NONCE_LOCK = threading.Lock()


def staging_nonce(spark) -> int:
    """Monotonic per-session counter for temp-view names of *iterative*
    staged builders (k-means): fixed global view names would let two
    concurrent calls in one session clobber each other's state mid-loop
    Lock-guarded — the bare read-modify-write is two
    bytecode ops, so two threads could otherwise draw the SAME nonce and
    share loop state, exactly the clobbering the nonce exists to prevent.
    The issuing thread is recorded so release sweeps can recognize
    in-flight sibling groups (see :func:`_protected_nonces`)."""
    with _STAGING_NONCE_LOCK:
        n = getattr(spark, "_tf_staging_nonce", 0) + 1
        spark._tf_staging_nonce = n
        spark.__dict__.setdefault("_tf_thread_nonces", {})[threading.get_ident()] = n
        return n


def finish_staging_nonce(spark, nonce: int) -> None:
    """Drop the issuing thread's in-flight nonce record for a FAILED or
    ABANDONED staging group — after a raise nothing can reference the
    group, so protecting it only leaks.

    Deliberately NOT called on builder SUCCESS paths (for any iterative
    family — ccs_/km_/bpe_): clearing at completion would stop pooled
    threads protecting superseded groups, but clearing before the caller
    materializes the returned plan opens a race — a sibling's
    supersede-release would unpersist the completed call's final checkpoint mid-collect, and
    localCheckpoint lineage truncation is unrecoverable. The accepted
    tradeoff across all three iterative families is the BOUNDED leak:
    at most one superseded group per idle pool thread — provided every
    family's supersede-release sweeps its WHOLE prefix (km_/bpe_/ccs_
    all do), so a release skipped under protection is retried by the
    next call once the protecting record is overwritten or its thread
    exits; a single-nonce release would orphan each skipped group
    forever. Guarded on the nonce
    still being the thread's CURRENT record: the same thread may have
    drawn a newer nonce since, and that one is someone else's
    in-flight state."""
    with _STAGING_NONCE_LOCK:
        records = spark.__dict__.get("_tf_thread_nonces", {})
        tid = threading.get_ident()
        if records.get(tid) == nonce:
            del records[tid]


def _runtime_confs(shuffle_partitions: int) -> dict[str, str]:
    """The engine's runtime-settable SQL confs: ONE dict read by both
    :func:`session` and :func:`tune_runtime`, so a fix made here (or to
    the parquet-timestamp vintage confs in ``sources``) reaches both."""
    from torchfusion_spark.sources import _TS_NORMALIZE_CONFS

    return {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        # unfiltered MIN/MAX/COUNT answered from parquet footer statistics
        "spark.sql.parquet.aggregatePushdown": "true",
        # both testdata timestamp vintages → TIMESTAMP (see sources.read_table)
        **_TS_NORMALIZE_CONFS,
    }


def session(
    app_name: str = "torchfusion_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the SparkSession with engine defaults applied."""
    cpus = default_parallelism()
    builder = SparkSession.builder.appName(app_name).master(master or f"local[{cpus}]")
    for k, v in {
        **_runtime_confs(shuffle_partitions or cpus),
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        **(extra_conf or {}),
    }.items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    configure(spark)
    return spark


def configure(spark: SparkSession) -> SparkSession:
    """Apply engine setup to an existing session (e.g. the driver's).

    Equivalent of the tail of ``configure_context`` (reference
    src/lib.rs:121-134): seed the ``torchfusion.*`` namespace and register
    the function library (argmax & friends).
    """
    from torchfusion_spark.functions import register_all

    tf_config.seed_defaults(spark)
    register_all(spark)
    return spark


def tune_runtime(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable SQL confs to an existing session.

    A host session we didn't build (the correctness driver's, a notebook's)
    carries Spark defaults: 200 shuffle partitions (200-task exchanges for
    kB-sized gate inputs), no parquet aggregate pushdown. Everything set
    here is runtime-mutable (no restart needed); session-level settings
    like driver memory can only be applied by :func:`session`. Memoized —
    every registry builder routes through here.
    """
    if getattr(spark, "_tf_runtime_tuned", False):
        return spark
    for k, v in _runtime_confs(default_parallelism()).items():
        spark.conf.set(k, v)
    spark._tf_runtime_tuned = True
    return spark
