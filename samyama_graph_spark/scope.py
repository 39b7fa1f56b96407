"""Pinned frames and session-conf overrides: the engine's one owner of
cached-frame lifetime and of temporary session configuration.

:func:`pin` persists and materializes a frame under an *owner*: a name
(a rotation, which the caller releases at the start of its next call)
or, by default, the calling thread's innermost :func:`scope`, whose
exit releases it.  :func:`own` registers a frame its caller persisted.

Plan identity: Spark's CacheManager keys a cache entry on the
canonicalized plan, so persisting a plan-identical frame no-ops onto the
existing entry, and unpersisting either frame drops the entry for both.
Hence a rotation is released BEFORE the next call persists anything —
released afterwards, it takes the entry the new frame relies on, and
every multi-leg consumer recomputes the frame inline (measured 80 s for
simhash_dedup re-runs).  And the release BLOCKS: an asynchronous
unpersist can land after the new ``persist()`` no-opped onto the old
entry, leaving the new pin silently uncached.

:func:`scope` overrides session confs until it exits.  Each override is
an entry on a per-session, per-key stack: the live value is the newest
entry still live, and an exit removes only its own entry, then sets the
newest remaining value or, with none left, the original one.  Scopes on
different threads may therefore exit in any order and the session still
ends with its original confs; while two scopes overlap, both threads run
under the newer one's values.  The registry is per session (weakly
keyed) and guarded by one lock.
"""

from __future__ import annotations

import contextlib
import threading
import weakref
from dataclasses import dataclass, field
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession


@dataclass
class _Session:
    pins: dict = field(default_factory=dict)  # owner -> [frame]
    conf: dict = field(default_factory=dict)  # key -> [(token, value)]
    orig: dict = field(default_factory=dict)  # key -> value (None: unset)


class _Open(threading.local):
    def __init__(self):
        self.scopes: list = []  # (session, token), innermost last


_REGISTRY: "weakref.WeakKeyDictionary[SparkSession, _Session]" = (
    weakref.WeakKeyDictionary()
)
_LOCK = threading.Lock()
_OPEN = _Open()


def _state(spark: SparkSession) -> _Session:
    """The session's registry entry (caller holds ``_LOCK``)."""
    return _REGISTRY.setdefault(spark, _Session())


def pin(df: DataFrame, owner: str | None = None) -> DataFrame:
    """Persist and materialize ``df`` under ``owner`` (see :func:`own`);
    returns the persisted frame.  Pin frames that derive from one
    another in order, so each build reads its predecessor's cache."""
    df = own(df.persist(), owner)
    df.count()
    return df


def own(df: DataFrame, owner: str | None = None) -> DataFrame:
    """Register the already-persisted ``df`` under ``owner`` — a
    rotation name, or by default the calling thread's innermost
    :func:`scope` — whose release unpersists it; returns ``df``."""
    spark = df.sparkSession
    if owner is None:
        if not _OPEN.scopes:
            raise RuntimeError("no owner given and no open scope()")
        owner = _OPEN.scopes[-1]
        spark = owner[0]
    with _LOCK:
        _state(spark).pins.setdefault(owner, []).append(df)
    return df


def release(spark: SparkSession, *owners) -> None:
    """Unpersist, blocking, every frame pinned under ``owners``."""
    with _LOCK:
        pins = _state(spark).pins
        drop = [f for o in owners for f in pins.pop(o, [])]
    for f in drop:
        f.unpersist(blocking=True)


@contextlib.contextmanager
def scope(
    spark: SparkSession, conf: dict[str, str] | None = None
) -> Iterator[None]:
    """Override the session confs in ``conf`` and own the frames pinned
    or owned without an owner, until exit — which, on an exception too,
    withdraws the overrides and releases the frames."""
    conf = conf or {}
    token = (spark, object())
    _OPEN.scopes.append(token)
    try:
        with _LOCK:
            st = _state(spark)
            for k, v in conf.items():
                if k not in st.conf:
                    st.orig[k] = spark.conf.get(k, None)
                st.conf.setdefault(k, []).append((token, v))
                spark.conf.set(k, v)
        yield
    finally:
        _OPEN.scopes.remove(token)
        try:
            with _LOCK:
                st = _state(spark)
                for k in conf:
                    live = [e for e in st.conf.get(k, []) if e[0] is not token]
                    if live:
                        st.conf[k] = live
                        spark.conf.set(k, live[-1][1])
                    elif st.conf.pop(k, None) is not None:
                        orig = st.orig.pop(k)
                        if orig is None:
                            spark.conf.unset(k)
                        else:
                            spark.conf.set(k, orig)
        finally:
            release(spark, token)
