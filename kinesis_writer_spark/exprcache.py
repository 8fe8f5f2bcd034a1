"""Process-wide construction cache for Column expression trees.

Building a large expression in Python is py4j-bound: every ``F.xxx`` call
and every higher-order-function lambda is one or more JVM round trips, so
builders like the 60-aggregate SimHash projection cost 1-3 s of pure
driver-side construction PER QUERY INVOCATION (measured r14). Column
objects are immutable unresolved expression trees bound to nothing —
reusing one across DataFrames/queries is as safe as Spark's own reuse of a
parsed SQL string; analysis still assigns fresh expression ids per plan.
The cache holds no data, no blocks, no results, so both stores are
:mod:`memo` *handles*: ``clear_all`` leaves them alone (clearing them would
re-measure py4j latency, not query work).

Two stores:

* **constant-keyed** (default): expressions whose shape AND literals are
  fully determined by a small static key ("q53_simhash", ("dot", a, b)).
  Bounded by the source code itself; its hits take no lock.
* **value-keyed** (``value_keyed=True``): expressions embedding trained /
  data-derived literals (IVF centroid matrices, perceptron weight
  vectors) key on those VALUES so a retrained model is a cache miss. They
  live in a small LRU (``VALUE_KEYED_CAP``): the hot path — the same
  trained codebook re-assigning in every consumer query — stays a hit,
  while superseded models age out instead of leaking under long-lived
  streaming retraining.
"""

from __future__ import annotations

from collections import OrderedDict

from . import memo

#: Max retained value-keyed entries (distinct trained-literal expression
#: trees). The working set is one entry per (model, consumer column) —
#: single digits in every registered pipeline; 32 leaves generous headroom
#: while bounding the retain-forever failure mode.
VALUE_KEYED_CAP = 32

#: Handle: constant key -> Column tree(s); emptied when the SparkContext changes.
_CONST: dict = memo.register({}, memo.HANDLE)
#: Handle: value key -> Column tree(s), an LRU of VALUE_KEYED_CAP entries;
#: emptied when the SparkContext changes.
_VALUE: OrderedDict = memo.register(OrderedDict(), memo.HANDLE)


def cached_exprs(key, builder, value_keyed: bool = False):
    """Memoize the (list of) Column(s) returned by ``builder()`` under
    ``key``. Use only for expressions whose shape AND literals are fully
    determined by the key; pass ``value_keyed=True`` when the key embeds
    trained/data-derived values (bounded-LRU store)."""
    if value_keyed:
        return memo.get_or_build(_VALUE, key, builder, cap=VALUE_KEYED_CAP)
    memo.check_context()
    got = _CONST.get(key)
    if got is None:
        got = memo.get_or_build(_CONST, key, builder)
    return got
