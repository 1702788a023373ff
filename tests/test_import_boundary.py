"""Every Spark Python worker that runs a sketch fold imports
``operators.aggregate``; that import must load only the sketch core."""

import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

CORE = {
    "rusty_bloomfilter_spark",
    "rusty_bloomfilter_spark.operators",
    "rusty_bloomfilter_spark.operators.aggregate",
    "rusty_bloomfilter_spark.operators.sketches",
    "rusty_bloomfilter_spark.operators.checkpoint",
}


def test_aggregate_import_loads_only_core_modules():
    code = (
        "import sys\n"
        "import rusty_bloomfilter_spark.operators.aggregate\n"
        "print(*(m for m in sys.modules if m.split('.')[0] == 'rusty_bloomfilter_spark'))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True, text=True, check=True
    ).stdout
    loaded = set(out.split())
    sketch = "rusty_bloomfilter_spark.sketch"
    foreign = {m for m in loaded - CORE if m != sketch and not m.startswith(sketch + ".")}
    assert not foreign, f"{len(loaded)} package modules loaded; not core: {sorted(foreign)}"


def test_every_module_imports_without_spark_context():
    """No module may need a SparkContext at import time (a module-level
    UDF declaration parses its return type through one)."""
    code = (
        "import importlib, pkgutil, traceback\n"
        "import rusty_bloomfilter_spark as pkg\n"
        "for m in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + '.'):\n"
        "    try:\n"
        "        importlib.import_module(m.name)\n"
        "    except Exception as e:\n"
        "        print(m.name, type(e).__name__)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True, text=True, check=True
    ).stdout
    assert not out, f"modules that fail to import without Spark:\n{out}"


# Operator families whose last harness query was deleted with the
# relational and analytics queries; the harness must not load them.
NO_HARNESS_CALLER = {
    "assoc", "benford", "changepoint", "compaction", "cube", "drift", "funnel",
    "gof", "graph", "integrity", "keyness", "layout", "markov", "outliers",
    "profile", "reconcile", "retention", "sampling", "scd", "sharding", "spans",
    "stats", "strings", "survival", "sweep", "temporal", "trend", "validate",
}


def test_harness_import_skips_families_without_a_query():
    code = (
        "import sys\n"
        "import rusty_bloomfilter_spark.contract\n"
        "print(*(m for m in sys.modules if m.startswith('rusty_bloomfilter_spark.operators.')))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True, text=True, check=True
    ).stdout
    loaded = {m.rsplit(".", 1)[1] for m in out.split()}
    assert not loaded & NO_HARNESS_CALLER, sorted(loaded & NO_HARNESS_CALLER)
