"""etl_nights: the pipeline's legs, one maintained store each, in one run.

First the sync leg (``wl_sync``): a full crawl into empty MOR state,
then nights of ``run_sync``. Then the dedup and ANN legs
(``wl_dedup_ann``): the index build, nights of ``run_dedup_maintenance``
and ``run_ann_maintenance``, and ``ann_search`` requests. Each leg's
figures are kept apart in the result's detail line; the end-to-end
metrics add them up:

- ``bulk_ginstr``: the initial load, full crawl + index build;
- ``step_ginstr``: one night, mean sync night + mean dedup and ANN night;
- ``op_minstr``: the median ``ann_search`` request.
"""

from __future__ import annotations

import statistics

from perfbench import gen
from perfbench import wl_dedup_ann, wl_sync


def setup(ctx) -> dict:
    sync, dedup = wl_sync.setup(ctx), wl_dedup_ann.setup(ctx)
    ctx.input_checksum = gen.checksum(sync["checksum"], dedup["checksum"])
    return {"sync": sync, "dedup": dedup}


def run(ctx, state: dict) -> None:
    full, sync_nights = wl_sync.run(ctx, state["sync"])
    build, dedup_nights, ann_nights, searches = wl_dedup_ann.run(ctx, state["dedup"])
    sync_night = statistics.mean(ph.ginstr for ph in sync_nights)
    maint_night = statistics.mean(a.ginstr + b.ginstr for a, b in zip(dedup_nights, ann_nights))
    ctx.metrics.update(
        {
            "bulk_ginstr": full.ginstr + build.ginstr,
            "step_ginstr": sync_night + maint_night,
            "op_minstr": statistics.median(ph.ginstr * 1000 for ph in searches),
        }
    )
    ctx.detail.update(ctx.observed)
