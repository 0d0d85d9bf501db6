"""Shared test helpers."""

from __future__ import annotations


class MockGroupState:
    """Minimal stand-in for pyspark GroupState, driving the stateful
    functions (streaming/twa.py, interp.py, cep.py) without a Spark query:
    tests set `_wm` (ms) / `hasTimedOut` between invocations."""

    def __init__(self):
        self._v = None
        self.hasTimedOut = False
        self._wm = 0
        self.timeout = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v

    def remove(self):
        self._v = None

    def getCurrentWatermarkMs(self):
        return self._wm

    def setTimeoutTimestamp(self, ms):
        self.timeout = ms

