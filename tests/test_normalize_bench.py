import json
import sys

from tools import normalize_bench


def _write(path, queries, sentinels=None):
    doc = {"queries": queries}
    if sentinels is not None:
        doc["calibration"] = {"sentinel_sec": sentinels}
    path.write_text(json.dumps(doc))
    return str(path)


def _run(monkeypatch, capsys, *paths):
    monkeypatch.setattr(sys, "argv", ["normalize_bench.py", *paths])
    rc = normalize_bench.main()
    return rc, capsys.readouterr().out


def test_two_file_mode_skips_bad_rows(tmp_path, monkeypatch, capsys):
    """A zero new time, a query without a sentinel and a query missing
    from the old run are skipped; the remaining row is compared."""
    new = _write(
        tmp_path / "new.json",
        {"ok": 2.0, "zero": 0.0, "no_sentinel": 1.0, "new_only": 1.0},
        {"ok": 1.0, "zero": 1.0, "new_only": 1.0},
    )
    old = _write(tmp_path / "old.json", {"ok": 4.0, "zero": 1.0, "no_sentinel": 2.0})
    rc, out = _run(monkeypatch, capsys, new, old)
    assert rc == 0
    assert "geomean speedup: raw=2.000  sentinel-normalized=2.000" in out
    for q in ("zero", "no_sentinel", "new_only"):
        assert q not in out


def test_two_file_mode_without_common_queries(tmp_path, monkeypatch, capsys):
    new = _write(tmp_path / "new.json", {"a": 1.0}, {"a": 1.0})
    old = _write(tmp_path / "old.json", {"b": 1.0})
    rc, out = _run(monkeypatch, capsys, new, old)
    assert rc == 1
    assert "no common queries" in out
    assert "geomean" not in out


def test_one_file_mode_tolerates_missing_sentinel(tmp_path, monkeypatch, capsys):
    new = _write(tmp_path / "new.json", {"a": 2.0, "b": 1.0}, {"a": 1.0})
    rc, out = _run(monkeypatch, capsys, new)
    assert rc == 0
    rows = {line.split()[0]: line.split()[1:] for line in out.splitlines()[2:]}
    assert rows == {"a": ["2.000", "1.000", "1.00"], "b": ["1.000", "-", "-"]}


def test_new_file_without_calibration_fails(tmp_path, monkeypatch, capsys):
    new = _write(tmp_path / "new.json", {"a": 1.0})
    rc, _ = _run(monkeypatch, capsys, new)
    assert rc == 1
