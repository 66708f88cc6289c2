"""heavy_bench --isolated: a failed or incomplete child is skipped with a
stderr note, and the other queries' timings still reach the artifact."""

import json
import os
import subprocess
import sys
from types import SimpleNamespace

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

import heavy_bench  # noqa: E402


def test_isolated_skips_failed_children(monkeypatch, capsys):
    good = {"queries": {"ok_q": 1.5}, "query_loadavg_1m": {"ok_q": 0.5}}
    children = {
        "ok_q": SimpleNamespace(returncode=0, stdout=json.dumps(good),
                                stderr=""),
        "crashed_q": SimpleNamespace(returncode=1, stdout=json.dumps(good),
                                     stderr="boom"),
        "missing_q": SimpleNamespace(returncode=0, stdout=json.dumps(good),
                                     stderr=""),
        "silent_q": SimpleNamespace(returncode=0, stdout="", stderr=""),
    }
    monkeypatch.setattr(subprocess, "run",
                        lambda cmd, **kw: children[cmd[-1]])
    heavy_bench._isolated(list(children))
    out, err = capsys.readouterr()
    d = json.loads(out.strip().splitlines()[-1])
    assert d["queries"] == {"ok_q": 1.5}
    assert d["query_loadavg_1m"] == {"ok_q": 0.5}
    for name in ("crashed_q", "missing_q", "silent_q"):
        assert f"{name}: subprocess failed" in err
    assert "boom" in err
