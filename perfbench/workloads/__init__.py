"""The benchmark's workloads, by name; each is imported when chosen."""

import importlib

CLASSES = {
    "table_ops": "TableOps",
    "lake_scan": "LakeScan",
}


def load(name: str):
    return getattr(importlib.import_module(f"workloads.{name}"), CLASSES[name])
