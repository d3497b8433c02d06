"""Source guard for the one sink replay and compaction protocol
(example_kafkastreams_spark/streaming/sinks.py).

Every ``foreachBatch`` sink in the package names its output by one
replay token, writes leaves by one dynamic partition overwrite, checks
for committed leaves in one place and keeps snapshot stores behind one
``meta.json`` pointer; every compactor publishes through one
park-then-promote swap and every JSON artifact is written by one
atomic writer. This scan fails if a copy of any of those comes back
elsewhere in the package: a ``partitionOverwriteMode`` write, a
``hexdigest()[:16]`` token, a ``startswith("ingest_run=")`` leaf check,
a pointer write (the pointer's ``"applied"`` high-water-mark map or a
``v_{...}`` snapshot directory name), a swap suffix
(``__pre_compact__``, ``__compacting__``) or a JSON temp name
(``__tmp__``, ``json.tmp``).
"""

from __future__ import annotations

import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "example_kafkastreams_spark"
OWNER = PACKAGE / "streaming" / "sinks.py"
PATTERNS = {
    "dynamic partition overwrite": re.compile(r"partitionOverwriteMode"),
    "replay token": re.compile(r"hexdigest\(\)\[:16\]"),
    "committed-leaf check": re.compile(r"""startswith\(\s*["']ingest_run="""),
    "meta.json pointer write": re.compile(r"""["']applied["']|\bv_\{"""),
    "park-then-promote swap": re.compile(r"__pre_compact__|__compacting__"),
    "atomic JSON write": re.compile(r"__tmp__|json\.tmp"),
}


def test_sink_protocol_only_in_sinks_module():
    sources = [p for p in sorted(PACKAGE.rglob("*.py")) if p != OWNER]
    assert OWNER.exists() and len(sources) > 20
    offenders = [
        f"{path.relative_to(REPO)}:{i}: {what}: {line.strip()}"
        for path in sources
        for i, line in enumerate(path.read_text().splitlines(), 1)
        for what, pattern in PATTERNS.items()
        if pattern.search(line)
    ]
    assert not offenders, (
        "write sinks, swaps and JSON artifacts through "
        "example_kafkastreams_spark.streaming.sinks:\n"
        + "\n".join(offenders)
    )
