"""The benchmark tracer's patch targets must exist on the engine.

``perfbench --trace 1`` labels each layer by replacing the functions named in
``perfbench.workloads.BATCH_LAYERS`` / ``INCREMENTAL_LAYERS`` on the
``pipeline`` and ``streaming.incremental`` modules via ``getattr``. A
refactor that renames or drops one of those imports would break traced runs
only when they are next taken; this pins the names in the unit suite.
"""

from __future__ import annotations

import pytest

from perfbench.workloads import BATCH_LAYERS, INCREMENTAL_LAYERS
from product_deduplication_spark import pipeline
from product_deduplication_spark.streaming import incremental


@pytest.mark.parametrize(
    "module, attr",
    [(pipeline, a) for a, _, _ in BATCH_LAYERS] + [(incremental, a) for a, _, _ in INCREMENTAL_LAYERS],
    ids=lambda v: v if isinstance(v, str) else v.__name__.rsplit(".", 1)[-1],
)
def test_trace_target_resolves(module, attr):
    assert callable(getattr(module, attr, None)), f"{module.__name__}.{attr} is missing"
