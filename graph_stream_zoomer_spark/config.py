"""Engine configuration: window specs and global engine config.

Reference parity:
  - WindowConfig mirrors ``impl/functions/utils/WindowConfig.java:27-141``
    (value + unit, default 10 s) but extends it with sliding and session
    window kinds per the north rule (the reference only ships tumbling,
    ``README.md:85-87``).
  - StreamGraphConfig mirrors ``model/graph/StreamGraphConfig.java:30-133``
    (out-of-orderness duration, env handles) re-expressed as a plain
    dataclass of Spark-relevant knobs.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from enum import Enum


class WindowKind(str, Enum):
    TUMBLING = "tumbling"
    SLIDING = "sliding"
    SESSION = "session"


_UNIT_TO_SECONDS = {
    "MILLISECONDS": 0.001,
    "SECONDS": 1,
    "MINUTES": 60,
    "HOURS": 3600,
    "DAYS": 86400,
}


@dataclass(frozen=True)
class WindowConfig:
    """Event-time window specification.

    ``size_s`` / ``slide_s`` / ``gap_s`` are seconds (float ok for ms).
    Tumbling: size only. Sliding: size + slide. Session: gap only.
    """

    kind: WindowKind = WindowKind.TUMBLING
    size_s: float = 10.0
    slide_s: float | None = None
    gap_s: float | None = None

    @staticmethod
    def tumbling(value: float, unit: str = "SECONDS") -> "WindowConfig":
        return WindowConfig(WindowKind.TUMBLING, size_s=value * _UNIT_TO_SECONDS[unit.upper()])

    @staticmethod
    def sliding(size: float, slide: float, unit: str = "SECONDS") -> "WindowConfig":
        m = _UNIT_TO_SECONDS[unit.upper()]
        return WindowConfig(WindowKind.SLIDING, size_s=size * m, slide_s=slide * m)

    @staticmethod
    def session(gap: float, unit: str = "SECONDS") -> "WindowConfig":
        return WindowConfig(WindowKind.SESSION, size_s=0.0, gap_s=gap * _UNIT_TO_SECONDS[unit.upper()])

    @staticmethod
    def _interval(seconds: float) -> str:
        if seconds == int(seconds):
            return f"{int(seconds)} seconds"
        ms = int(round(seconds * 1000))
        return f"{ms} milliseconds"

    @property
    def size_interval(self) -> str:
        return self._interval(self.size_s)

    @property
    def slide_interval(self) -> str:
        assert self.slide_s is not None, "sliding window requires slide"
        return self._interval(self.slide_s)

    @property
    def gap_interval(self) -> str:
        assert self.gap_s is not None, "session window requires gap"
        return self._interval(self.gap_s)


@dataclass
class StreamGraphConfig:
    """Global engine knobs (Spark analog of StreamGraphConfig.java).

    - ``watermark_delay``: bounded out-of-orderness; reference hard-wires
      10 s in the table schemas (``model/table/TableSet.java:151,168``).
    - ``window``: the grouping window ``StreamGraph.group_by`` uses.

    Super ids are always sha1, as the reference's CreateSuperElementId
    (``impl/functions/utils/CreateSuperElementId.java:27-47``) hashes them.
    """

    watermark_delay: str = "10 seconds"
    window: WindowConfig = field(default_factory=WindowConfig)
