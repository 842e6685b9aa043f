"""GDS-ready Parquet graph export — the primary (offline) sink.

Writes ``{out_dir}/nodes/element_NNN/`` and ``{out_dir}/edges/element_NNN/``
in the GDS Arrow column layout (``nodeId``/``labels``/…, reference
protocol docs linked at ``README.md:287-289``), plus the model as
``{out_dir}/model.json``. Phase order and the key check come from
:class:`~.base.PhasedGraphSink`.

Telemetry comes from ``df.observe`` — the row count and the null-key
counts are collected as a side effect of the single write action (no
second pass over the data, unlike a ``df.count()`` + write pair); byte
counts come from the written files.
"""

from __future__ import annotations

import os
import uuid
from typing import Any

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .base import KEYS, PhasedGraphSink


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    return total


class ParquetGraphSink(PhasedGraphSink):
    def __init__(self, out_dir: str):
        super().__init__()
        self.out_dir = out_dir

    def _on_start(self) -> None:
        os.makedirs(self.out_dir, exist_ok=True)
        with open(os.path.join(self.out_dir, "model.json"), "w") as f:
            f.write(self.graph.to_json())

    def _write(self, df: DataFrame, kind: str, element: Any, sub: str):
        path = os.path.join(self.out_dir, sub)
        obs = Observation(f"obs_{uuid.uuid4().hex[:8]}")
        observed = df.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            *(F.sum(F.col(k).isNull().cast("long")).alias(k) for k in KEYS[kind]),
        )
        observed.write.mode("overwrite").parquet(path)
        got = obs.get
        return got["rows"], _dir_bytes(path), {k: got[k] for k in KEYS[kind]}
