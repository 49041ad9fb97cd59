"""Session-staged relation prewarm — the ONE copy of the staging schedule
shared by ``bench.py``, ``tools/perf_probe.py`` and the repo benchmark.

Every session-staged relation the headline set reads is built here,
outside any timed query, so its one-time cost lands in the staging
figure instead of polluting the first timed query's cold number. The
schedule is a table: each component is submitted as soon as the
components it names have finished, so independent builds overlap and a
dependent never parks a pool thread on its dep's memo lock (which would
also charge the dep's build to the dependent's itemized wall-clock).
Safe concurrently: each staged relation builds once per memo key under
its own lock (``session.staged``).
"""

from __future__ import annotations

from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from functools import partial

# A few jobs in flight fill the scheduler's tail without fighting for
# task slots: fresh-session A/B at sf0.1 measured width 10 at
# {20, 79, 80, 133} s, width 5 at {28.0, 28.2, 35.4} s and width 3 at ~42 s.
POOL_WIDTH = 5

# (timing name, staged entry or builder, components that must finish first).
# Deps mirror the staged table; li_by_order and url_index keep their own
# on-disk lifecycles and join only by calling their builders.
# sim_buckets waits for sim_assign: both read the norms relation, and the
# serial chain keeps each row's wall-clock the build it names.
COMPONENTS = (
    ("hx_shingles", "hx", ()),
    ("sim_norms", "sim_norms", ()),
    ("substring_grams", "substring_grams", ()),
    ("unigrams", "unigrams", ()),
    ("payload_phash", "phash", ()),
    ("frame_phash", "frame_phash", ()),
    ("doc_lines", "lines", ()),
    ("pack_tokens", "pack_t", ()),
    ("li_by_order", "li_by_order", ()),
    ("url_index", "url_index", ()),
    ("minhash_clusters", "minhash_clusters", ("hx_shingles",)),
    ("bloom_filter", "bloom", ("hx_shingles",)),
    ("containment_index", "containment", ("hx_shingles",)),
    ("quality_labels", "cls_labels", ("unigrams",)),
    ("sim_assign", "sim_assign", ("sim_norms",)),
    ("sim_buckets", "sim_buckets", ("sim_assign",)),
)


def _builder(target: str):
    from torchfusion_spark.operators.dedup import url_incremental_query
    from torchfusion_spark.plans.relational2 import _staged_li_by_order
    from torchfusion_spark.session import staged

    own = {"li_by_order": _staged_li_by_order, "url_index": url_incremental_query}
    return own.get(target) or partial(staged, name=target)


def prewarm_staging(spark, timed=None) -> None:
    """Build every session-staged relation the headline set reads.

    ``timed``: optional ``f(name, fn, *args)`` wrapper — the bench passes
    one that records each component's wall-clock under the concurrent
    schedule; default just calls ``fn(*args)``.
    """
    run = timed if timed is not None else (lambda _name, fn, *a: fn(*a))
    waiting = {name: (_builder(target), set(deps)) for name, target, deps in COMPONENTS}
    running = {}
    with ThreadPoolExecutor(max_workers=POOL_WIDTH) as pool:
        while waiting or running:
            for name, (fn, deps) in list(waiting.items()):
                if not deps & (waiting.keys() | set(running.values())):
                    del waiting[name]
                    running[pool.submit(run, name, fn, spark)] = name
            done, _ = wait(running, return_when=FIRST_COMPLETED)
            for fut in done:
                del running[fut]
                if fut.exception() is not None:
                    raise fut.exception()
