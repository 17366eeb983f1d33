"""Higher-order-function expression helpers.

One load-bearing idiom: :func:`bind`.  Spark evaluates a lambda's BODY
per element, and any non-lambda subexpression referenced inside the
body is re-evaluated on every invocation — so a per-row pipeline like
``transform(sequence(1, size(toks)), i -> slice(toks, i, n))`` where
``toks = split(text, ' ')`` re-runs the whole ``split`` for EVERY
element: O(n²) per row.  Invisible on 100-token fixture docs, a
straggler/task-stall on a pathological 100k-token document (measured
84× on 2k-token docs; the char-entropy rewrite measured 170× at
sf0.1).  Plain column references do NOT pay this — they are bound
attributes — which is why operators that first materialize
``.select(toks.alias("_toks"))`` (spans) were never affected.

``bind(arr, f)`` evaluates ``arr`` exactly once and passes it to
``f`` as a bound lambda variable: ``transform(array(arr), f)[0]`` —
the same trick ``winnow_fingerprint`` and the LTSV entry dedup
already used locally; this is the shared home.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F


def bind(arr: Column, f: Callable[[Column], Column]) -> Column:
    """Evaluate ``arr`` once per row and hand it to ``f`` as a bound
    lambda variable (O(1) per reference inside ``f``'s lambdas)."""
    return F.transform(F.array(arr), f)[0]
