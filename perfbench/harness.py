"""The closed loop every workload shares: one cold operation, a few
settling ones while the JIT catches up, then warm operations until the
run's measuring time is used up.  Failure never
aborts a run: an operation that raises or fails its output check is
recorded by name, counted as failed and left out of every timed
aggregate."""

from __future__ import annotations

import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

MIN_WARM_TRACED = 2  # one untraced and one traced, for the overhead
MAX_OPS = 200


@dataclass
class Op:
    name: str
    seconds: float
    ok: bool
    cold: bool
    traced: bool
    error: str | None = None
    settling: bool = False
    attrs: dict = field(default_factory=dict)


@dataclass
class Workload:
    # the program's set-up inside the workload (``setup_s`` adds the
    # session start), and the benchmark's own fixture generation
    setup_s: float
    fixture_s: float
    # read after the last operation, before the output checks
    peak_rss_mb: float
    ops: list[Op]
    checks: dict
    layer: dict = field(default_factory=dict)
    # operations attempted and failed when they are not ``ops`` (the
    # query surface counts queries, not passes)
    attempted: int | None = None
    failed: int | None = None


@dataclass
class Context:
    spark: object
    tracer: object
    seed: int
    seconds: float
    work: Path
    trace: bool
    store_class: type


def _error(ex: BaseException) -> str:
    return "".join(traceback.format_exception_only(type(ex), ex)).strip()[:300]


def role(ctx: Context, i: int, settling: int) -> tuple[bool, bool, bool]:
    """``(cold, settling, traced)`` of operation ``i``: 0 is cold (traced in
    a traced run), the next ``settling`` settle untraced, and the warm
    ones after them alternate untraced/traced in a traced run so it
    measures its own tracing overhead."""
    warm = i - 1 - settling
    traced = ctx.trace and (i == 0 or (warm >= 0 and warm % 2 == 1))
    return i == 0, 0 < i <= settling, traced


def keep_going(ctx: Context, i: int, deadline: float | None, settling: int,
               min_warm: int) -> bool:
    """Whether to start operation ``i``: until the measuring time after
    the settling operations is used up, and at least ``min_warm`` warm
    operations (``MIN_WARM_TRACED`` in a traced run)."""
    if i >= MAX_OPS:
        return False
    warm_done = max(0, i - 1 - settling)
    need = MIN_WARM_TRACED if ctx.trace else min_warm
    return deadline is None or time.perf_counter() < deadline or warm_done < need


def run_op(ctx: Context, name: str, timed, verify, role_: tuple[bool, bool, bool],
           attrs: dict | None = None) -> Op:
    """Time ``timed()`` (traced or not), then check its result with the
    clock stopped."""
    cold, settling, traced = role_
    ctx.tracer.enabled = traced
    result, error = None, None
    t0 = time.perf_counter()
    try:
        with ctx.tracer.span("op", op=name, cold=cold):
            result = timed()
    except Exception as ex:  # noqa: BLE001 — a failed operation is data
        error = _error(ex)
    seconds = time.perf_counter() - t0
    ctx.tracer.enabled = ctx.trace
    if error is None:
        try:
            error = verify(result)
        except Exception as ex:  # noqa: BLE001
            error = "check raised: " + _error(ex)
    return Op(name, seconds, error is None, cold, traced, error=error,
              settling=settling, attrs=attrs or {})


def run_ops(ctx: Context, make, settling: int, min_warm: int) -> list[Op]:
    """``make(i)`` generates operation ``i``'s inputs (untimed) and returns
    ``(name, timed, verify, attrs)``."""
    ops: list[Op] = []
    deadline = None
    while keep_going(ctx, len(ops), deadline, settling, min_warm):
        i = len(ops)
        name, timed, verify, attrs = make(i)
        ops.append(run_op(ctx, name, timed, verify, role(ctx, i, settling), attrs))
        if i == settling:
            deadline = time.perf_counter() + ctx.seconds
    return ops


def warm_seconds(ops: list[Op], traced: bool) -> list[float]:
    """Times of the successful warm operations, traced or untraced."""
    return [
        o.seconds for o in ops
        if not (o.cold or o.settling) and o.ok and o.traced == traced
    ]
