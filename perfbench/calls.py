"""Per-call records of a timed phase."""

from __future__ import annotations


class Calls:
    """Kind, latency, work items and verdict of every timed call."""

    def __init__(self):
        self.rows: list[tuple[str, float, int, bool]] = []

    def add(self, kind: str, seconds: float, items: int, ok: bool) -> None:
        self.rows.append((kind, seconds, items, bool(ok)))

    def fail_last(self) -> None:
        self.rows[-1] = self.rows[-1][:3] + (False,)

    def lat_ms(self, kinds=None) -> list[float]:
        return [s * 1e3 for k, s, _, _ in self.rows if kinds is None or k in kinds]

    @property
    def attempted(self) -> int:
        return len(self.rows)

    @property
    def failed(self) -> int:
        return sum(1 for r in self.rows if not r[3])

    @property
    def items(self) -> int:
        return sum(r[2] for r in self.rows)
