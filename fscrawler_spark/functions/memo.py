"""The one worker-resident memo policy for Python UDF bodies.

Scoring and encoding UDFs look the SAME keys up over and over (Zipf: the
common words and grams dominate every document), so a module-level memo
in a reused Python worker keeps them across batches and tasks. Values
must be pure functions of the key, so caching can never change an
output. The cap bounds worker RSS; clearing on overflow keeps
the hot head resident without per-entry bookkeeping.
"""

from __future__ import annotations

MEMO_CAP = 500_000  # ~50 MB of worker RSS at 500k short grams


class CappedMemo(dict):
    """``memo[key]`` returns ``compute(key)``, computed once per key.

    A hit is a plain C-level dict lookup; only a miss runs Python: the
    dict is cleared when it holds ``MEMO_CAP`` entries, then the new
    value is stored."""

    def __init__(self, compute):
        super().__init__()
        self.compute = compute

    def __missing__(self, key):
        if len(self) >= MEMO_CAP:
            self.clear()
        value = self[key] = self.compute(key)
        return value
