"""The registry loop shared by ``bench.py`` and the scripts in ``tools/``.

- ``select``: resolve the names a run asked for against a registry.
  Unknown names end the run, naming them, before any session starts;
  batch names come before streaming ones.
- ``timed``: an untimed warm-up call, then a min-of-N sample loop.
- ``merge_record``: read a JSON record, merge this run into it, write
  it back; ``load_context`` is the box's load to store with a row.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections.abc import Callable, Iterable

# median/min above this ratio => the samples are contention-polluted
NOISE_RATIO = 1.5


def is_streaming(name: str) -> bool:
    return "stream" in name


def select(
    args: Iterable[str],
    registry: Iterable[str],
    default: Iterable[str] | None = None,
    source: str = "arguments",
) -> list[str]:
    """The names in ``args`` (``--`` options skipped; ``default``, else
    the whole registry, when there are none), batch before streaming.
    Exits non-zero naming every name the registry does not hold."""
    registry = list(registry)
    names = [a for a in args if not a.startswith("--")]
    names = list(dict.fromkeys(names or (registry if default is None else default)))
    known = set(registry)
    unknown = [n for n in names if n not in known]
    if unknown:
        raise SystemExit(f"{source}: unknown names {unknown}")
    return [n for n in names if not is_streaming(n)] + [
        n for n in names if is_streaming(n)
    ]


def timed(
    call: Callable[[], object],
    repeats: int,
    *,
    warmup: bool = True,
    extra: int = 0,
) -> list[float]:
    """Wall seconds of ``repeats`` calls, after one untimed warm-up call
    (codegen, file listing, memos). While median/min of the samples is
    above ``NOISE_RATIO``, up to ``extra`` more are drawn so the min
    comes from a larger pool."""
    if warmup:
        call()
    samples: list[float] = []
    while len(samples) < repeats or (
        len(samples) < repeats + extra
        and statistics.median(samples) > NOISE_RATIO * min(samples)
    ):
        start = time.perf_counter()
        call()
        samples.append(time.perf_counter() - start)
    return samples


def load_context() -> dict:
    return {
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "cpus": os.cpu_count(),
    }


def _merge(dst: dict, src: dict) -> None:
    for key, value in src.items():
        if isinstance(value, dict) and isinstance(dst.get(key), dict):
            _merge(dst[key], value)
        else:
            dst[key] = value


def merge_record(path: str, patch: dict, *, fresh: bool = False) -> dict:
    """Merge ``patch`` into the JSON record at ``path`` (nested dicts
    key by key, so rows of other names survive a subset run) and write
    it back; ``fresh`` starts from an empty record."""
    record: dict = {}
    if not fresh and os.path.exists(path):
        with open(path) as fh:
            record = json.load(fh)
    _merge(record, patch)
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1)
    return record
