"""The staged-relation resolver (``session.staged``), exercised through the
schedule every bench runs: ``prewarm_staging`` and its ``timed`` hook."""

from __future__ import annotations

import threading
import time


def _closure(table, name):
    deps = set(table[name].deps)
    for d in table[name].deps:
        deps |= _closure(table, d)
    return deps


def test_prewarm_schedule_and_memo_hits(spark, tables):
    from torchfusion_spark.session import _table
    from torchfusion_spark.staging import COMPONENTS, prewarm_staging

    # the schedule's declared deps cover the staged table's: a component
    # never starts before the component that builds one of its deps
    target = {c: t for c, t, _ in COMPONENTS}
    declared = {c: set(d) for c, _, d in COMPONENTS}

    def upstream(c):
        out = set(declared[c])
        for d in declared[c]:
            out |= upstream(d)
        return out

    table = _table()
    for c, t, _ in COMPONENTS:
        if t in table:
            needed = {c2 for c2, t2 in target.items() if t2 in _closure(table, t)}
            assert needed <= upstream(c), (c, needed - upstream(c))

    spans: dict[str, list[tuple[float, float]]] = {}
    lock = threading.Lock()

    def timed(name, fn, *args):
        t0 = time.monotonic()
        fn(*args)
        with lock:
            spans.setdefault(name, []).append((t0, time.monotonic()))

    prewarm_staging(spark, timed=timed)
    assert sorted(spans) == sorted(target)
    assert all(len(runs) == 1 for runs in spans.values()), spans
    for c, deps in declared.items():
        for d in deps:
            assert spans[d][0][1] <= spans[c][0][0], (c, d)

    # a second prewarm on the same corpus hits the memo everywhere: every
    # component runs, but no staged slot is replaced and no key moves
    cached = dict(spark.__dict__["_tf_staged_pool"])
    checkpointed = dict(spark.__dict__["_tf_ck_pool"])
    keys = {n: dict(m) for n, m in spark.__dict__["_tf_staged_keys"].items()}
    again = []
    prewarm_staging(spark, timed=lambda name, fn, *a: (again.append(name), fn(*a)))
    assert sorted(again) == sorted(target)
    pool = spark.__dict__["_tf_staged_pool"]
    assert pool.keys() == cached.keys()
    assert all(pool[s] is df for s, df in cached.items())
    ck = spark.__dict__["_tf_ck_pool"]
    assert all(ck.get(s) is h for s, h in checkpointed.items())
    assert {n: dict(m) for n, m in spark.__dict__["_tf_staged_keys"].items()} == keys


def test_concurrent_binds_share_one_staging(spark, tables):
    """Many threads binding overlapping entries in different orders must
    neither deadlock nor rebuild: bind takes the memo locks in one global
    order, and a hit replaces no staged slot."""
    import sys

    from torchfusion_spark.session import bind, staged

    groups = [("hx", "bloom"), ("unigrams", "cls_labels", "hx"), ("cls_labels", "unigrams"),
              ("sim_norms", "unigrams"), ("sim_assign", "sim_norms")]
    want = {g: bind(spark, g, lambda *v: v) for g in groups}
    for name in ("minhash_sig", "substring_grams", "docs"):
        staged(spark, name)
    cached = dict(spark.__dict__["_tf_staged_pool"])
    got, errors = [], []

    def worker(i):
        try:
            g = groups[i % len(groups)]
            got.append((g, bind(spark, g, lambda *v: v)))
            staged(spark, ("minhash_sig", "substring_grams", "docs")[i % 3])
        except Exception as exc:  # noqa: BLE001 — surfaced by the assert below
            errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert len(got) == 16 and all(views == want[g] for g, views in got)
    assert all(spark.__dict__["_tf_staged_pool"][s] is df for s, df in cached.items())
