"""Guard against knob creep: the engine reads no ``SPARK_GRAFT_*``
environment variable except the deployment settings in
``session.py``. An A/B switch belongs in a script or a test's
monkeypatch, not in the package, where it would fork the code path
every caller runs."""

from __future__ import annotations

import pathlib
import re

_PKG = pathlib.Path(__file__).resolve().parent.parent / "citybikedatawarehouse_spark"
_ALLOWED = {
    "session.py": {
        "SPARK_GRAFT_CPUS",
        "SPARK_GRAFT_DRIVER_MEM",
        "SPARK_GRAFT_SHUFFLE_PARTITIONS",
    },
}
_KNOB = re.compile(r"SPARK_GRAFT_\w+")


def test_only_deployment_env_settings_are_read():
    found: dict[str, set[str]] = {}
    for path in sorted(_PKG.rglob("*.py")):
        names = set(_KNOB.findall(path.read_text()))
        if names:
            found[str(path.relative_to(_PKG))] = names
    stray = {
        f: sorted(names - _ALLOWED.get(f, set()))
        for f, names in found.items()
        if names - _ALLOWED.get(f, set())
    }
    assert not stray, f"SPARK_GRAFT_* knobs outside session.py: {stray}"
    # the scan must actually see the deployment settings it allows
    assert found.get("session.py") == _ALLOWED["session.py"]
