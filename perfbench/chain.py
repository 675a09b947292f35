"""A ``MockChain`` that counts provider calls.

The count rides a Spark accumulator, so calls made inside executor-side
fetch tasks reach the driver. Only the calls the fetcher makes per block
or per transaction are counted, and only the outermost one when one
provider method calls another (``block_json`` builds on ``block``).

The counted methods are defined in the class body, so Spark pickles the
bound methods it ships to executors by reference rather than by value.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field

from dshackle_archive_spark.sources.mock_chain import MockChain

_inside = threading.local()


@dataclass(frozen=True)
class CountingChain(MockChain):
    calls: object = field(default=None, compare=False, hash=False, repr=False)

    def _counted(self, base, *args, **kwargs):
        if getattr(_inside, "call", False):
            return base(self, *args, **kwargs)
        _inside.call = True
        try:
            if self.calls is not None:
                self.calls.add(1)
            return base(self, *args, **kwargs)
        finally:
            _inside.call = False

    def block(self, *a, **k):
        return self._counted(MockChain.block, *a, **k)

    def block_json(self, *a, **k):
        return self._counted(MockChain.block_json, *a, **k)

    def uncles(self, *a, **k):
        return self._counted(MockChain.uncles, *a, **k)

    def tx_details(self, *a, **k):
        return self._counted(MockChain.tx_details, *a, **k)

    def trace_json(self, *a, **k):
        return self._counted(MockChain.trace_json, *a, **k)

    def state_diff_json(self, *a, **k):
        return self._counted(MockChain.state_diff_json, *a, **k)
