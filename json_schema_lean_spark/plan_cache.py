"""Process-local memo for lowered Column plans.

Building the fused / violation-row Column trees costs ~0.6 s warm (~2-4 s in
a cold JVM): thousands of py4j round-trips constructing the same unresolved
expressions. The expressions depend ONLY on the schema JSON, the input
DataFrame's dtype, the registry, and a handful of options — they reference
input columns by NAME — so re-validating another batch of the same table
shape (the normal case: streaming micro-batches, checkpointed unit loops,
bench re-runs) can reuse them verbatim.

Key includes the py4j gateway OBJECT (not its id(): a new gateway allocated
after the old one is garbage-collected can reuse the integer id, which would
let stale Column plans bound to a dead JVM come back as hits — r3 review).
Holding the gateway in the key keeps its identity unique for the entry's
lifetime; the FIFO cap bounds how long a dead gateway can stay pinned.
`stats` counts hits/misses for tests and debugging.

Plans are built without PySpark's call-site capture
(:func:`no_call_site_capture`). PySpark 4.1 wraps every method and operator
of a classic ``Column`` (``&``, ``.when``, ``getField``, ``cast``,
``alias``, ...) and ``functions.col`` in ``pyspark.errors.utils
._with_origin``: each call first looks up the active session, reflects
``PySparkCurrentOrigin``, reads a conf, sets and clears the origin in the
JVM, and walks the Python stack (a failing ``import IPython`` included).
That is about half the py4j round trips of a lowering
(``scripts/lowering_roundtrips.py`` counts them), and the call site it
records is a frame inside this package, which tells a user nothing. The
guard sets PySpark's module flag ``_enable_debugging_cache`` to False for
the duration of a build and restores its previous value (``None``, "not
read yet", included). The flag is private PySpark state: where the
attribute is missing (another PySpark version) the guard does nothing.
It is also process-wide, so while any thread builds, Column calls on
other threads skip the capture too; they lose only the call site in error
messages, never a result. Origin is not part of the plan, so plans are
unchanged. ``plan_memo`` enters the guard around every build;
``validate_json_column``, ``validate_spans_best`` and
``violation_rows_best`` run whole under it, so the selects around a build
and plan-cache hits skip the capture too.
"""

from __future__ import annotations

import json
import threading
from contextlib import contextmanager
from typing import Any, Callable, Iterator

from pyspark.errors import utils as _origin_utils
from pyspark.sql import DataFrame

_LOCK = threading.Lock()
_CACHE: dict = {}
_CAP = 64

stats = {"hits": 0, "misses": 0}

_FLAG = "_enable_debugging_cache"
# several driver threads build at once (CheckpointedValidation with
# concurrent_units > 1): only the outermost enter saves and clears the
# flag, only the last exit restores it (as observe.preserve_observed_metrics)
_GUARD_LOCK = threading.Lock()
_guard = {"depth": 0, "prev": None}


@contextmanager
def no_call_site_capture() -> Iterator[None]:
    """Build Columns inside without PySpark's per-call origin capture
    (module docstring). Reentrant and thread-safe; a no-op where PySpark
    has no ``_enable_debugging_cache``."""
    if not hasattr(_origin_utils, _FLAG):
        yield
        return
    with _GUARD_LOCK:
        if _guard["depth"] == 0:
            _guard["prev"] = getattr(_origin_utils, _FLAG)
            setattr(_origin_utils, _FLAG, False)
        _guard["depth"] += 1
    try:
        yield
    finally:
        with _GUARD_LOCK:
            _guard["depth"] -= 1
            if _guard["depth"] == 0:
                setattr(_origin_utils, _FLAG, _guard["prev"])
                _guard["prev"] = None


def _canon(x: Any) -> str:
    return json.dumps(x, sort_keys=True, separators=(",", ":"), default=str)


def plan_memo(kind: str, df: DataFrame, schema_json: Any,
              registry: Any, parts: tuple, builder: Callable[[], Any]) -> Any:
    """Return builder()'s result, memoized on everything the built Columns
    can depend on. builder exceptions propagate and are not cached."""
    sc = df.sparkSession.sparkContext
    gateway = sc._gateway  # keyed by identity; strong ref prevents id reuse
    key = (kind, gateway, _canon(schema_json), df.schema.json(),
           _canon(registry) if registry else None, parts)
    with _LOCK:
        if key in _CACHE:
            stats["hits"] += 1
            return _CACHE[key]
    with no_call_site_capture():
        val = builder()
    with _LOCK:
        stats["misses"] += 1
        if len(_CACHE) >= _CAP:
            _CACHE.pop(next(iter(_CACHE)))
        _CACHE[key] = val
    return val


def clear() -> None:
    with _LOCK:
        _CACHE.clear()
        stats["hits"] = stats["misses"] = 0
