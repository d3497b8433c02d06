"""Source guard for the one measurement module (example_kafkastreams_spark/obs.py).

Every status-store read (the UI REST API) and every py4j round-trip
counter in the harness goes through ``obs``. This scan fails if another
copy comes back in ``bench.py``, ``scale_probe.py``, ``tools/`` or the
package: a ``urlopen`` call, an ``/api/v1/`` path, or a
``GatewayClient.send_command =`` monkeypatch. ``perfbench/`` is the
benchmark harness and keeps its own reader, so it is not scanned.
"""

from __future__ import annotations

import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
OWNER = REPO / "example_kafkastreams_spark" / "obs.py"
PATTERN = re.compile(r"urlopen|/api/v1/|GatewayClient\.send_command\s*=")


def _sources() -> list[Path]:
    paths = [REPO / "bench.py", REPO / "scale_probe.py"]
    paths += sorted((REPO / "tools").glob("*.py"))
    paths += sorted((REPO / "example_kafkastreams_spark").rglob("*.py"))
    return [p for p in paths if p != OWNER]


def test_status_store_and_py4j_reads_only_in_obs():
    sources = _sources()
    assert REPO / "bench.py" in sources and len(sources) > 20
    offenders = [
        f"{path.relative_to(REPO)}:{i}: {line.strip()}"
        for path in sources
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if PATTERN.search(line)
    ]
    assert not offenders, (
        "read the status store and count py4j calls through "
        "example_kafkastreams_spark.obs:\n" + "\n".join(offenders)
    )
