"""The metric names, units and directions declared in BENCHMARK.json."""

from __future__ import annotations

import json
import os

SPEC = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "BENCHMARK.json")


def load() -> dict:
    with open(SPEC) as f:
        return json.load(f)


def end_to_end() -> list[dict]:
    return load()["end_to_end"]


def per_layer() -> list[dict]:
    return load()["per_layer"]
