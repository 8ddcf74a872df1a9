"""tools/scale_soak.py dispatch: a flag that names no leg or modifier
exits 2 with the list of legs before any Spark session starts, instead
of falling through to the default sf1 soak."""

from __future__ import annotations

import pytest

import tools.scale_soak as soak


class _NoSpark(Exception):
    pass


def _no_spark(*args, **kwargs):
    raise _NoSpark


def test_unknown_flag_exits_before_a_session(monkeypatch, capsys):
    monkeypatch.setattr(soak, "get_spark", _no_spark)
    monkeypatch.setattr("sys.argv", ["scale_soak.py", "--wcc"])
    with pytest.raises(SystemExit) as exc:
        soak.main()
    assert exc.value.code == 2
    err = capsys.readouterr().err
    assert "--wcc" in err
    for leg in soak.LEGS:
        assert leg in err


@pytest.mark.parametrize(
    "argv",
    [
        ["--skip-build", "--queries", "q_pagerank,q_kmeans_lloyd"],
        ["--sf100-graph", "--skip-build"],
    ],
)
def test_known_flags_reach_the_session(monkeypatch, argv):
    monkeypatch.setattr(soak, "get_spark", _no_spark)
    monkeypatch.setattr("sys.argv", ["scale_soak.py", *argv])
    with pytest.raises(_NoSpark):
        soak.main()
