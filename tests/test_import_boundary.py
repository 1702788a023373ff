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
