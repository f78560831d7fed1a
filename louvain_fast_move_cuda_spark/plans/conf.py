"""Scoped SQL configuration.

Session-global confs change every plan in the session, including joins
the caller does not own. A superstep loop that wants a different
setting for its own plans sets it for the length of a ``with`` block and
puts the session back as it found it.
"""

from __future__ import annotations

from contextlib import contextmanager


@contextmanager
def sql_conf(spark, conf: dict[str, str]):
    """Set ``conf`` on ``spark`` for the block; on exit, normal or by an
    exception, each key gets its previous value back, and a key that was
    unset before is unset again."""
    before = {key: spark.conf.get(key, None) for key in conf}
    for key, value in conf.items():
        spark.conf.set(key, value)
    try:
        yield
    finally:
        for key, value in before.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)
