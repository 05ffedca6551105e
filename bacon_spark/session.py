"""Session-level Spark configuration.

Per-query conf changes (a streaming query's shuffle width, its state-store
provider, an AQE-off collect) all go through :func:`conf_override`, so the
save/set/restore protocol and its assumptions live in one place.
"""

from __future__ import annotations

from contextlib import contextmanager


@contextmanager
def conf_override(spark, confs: dict[str, str]):
    """Set each ``key -> value`` in *confs* on the session for the body of
    the ``with`` block, then restore the exact prior state: a key that was
    explicitly set gets its old value back, a key that was unset (serving
    Spark's default) is unset again. Restores also when the body raises.

    The session conf is global to the session, not to the calling thread:
    while the block runs, every query on the same session sees the
    overrides. The library assumes one driver thread issues queries per
    session; two threads overriding the same key on one session would
    restore each other's values out of order. Structured Streaming
    captures the conf when a query ``start()``s, so a streaming query
    keeps its overrides after the block exits."""
    prev = {key: spark.conf.get(key, None) for key in confs}
    for key, value in confs.items():
        spark.conf.set(key, value)
    try:
        yield
    finally:
        for key, old in prev.items():
            if old is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, old)
