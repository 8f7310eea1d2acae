"""Benchmark of the readability extraction job and its pipeline operators; see README.md."""

import json
import os

BENCHMARK_JSON = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")


def metric_units(section: str) -> dict:
    """name -> unit of BENCHMARK.json's `end_to_end` or `per_layer` list, in
    its order: the one place the metric names and units are decided."""
    with open(BENCHMARK_JSON) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}
