"""bench.py's record contract, checked without a Spark session: the last
stdout line stays parseable JSON under 1,500 chars whatever the record
holds, and a bad --family fails closed before Spark starts."""

import json

import pytest

import __spark_entry__ as entrymod
import bench


@pytest.fixture
def no_spark(monkeypatch):
    def refuse(*_a, **_k):
        raise AssertionError("bench started a Spark session")

    monkeypatch.setattr(bench, "get_spark", refuse)


def _detail(sf: str, digits: int) -> dict:
    # a timing with `digits` decimals stands in for a long value
    t = float(f"1.{'7' * digits}")
    return {
        "metric": "lqt_build_throughput_rows_per_sec",
        "value": 12345.6,
        "unit": "rows/sec",
        "queries": {"build": t, **{q.name: t for q in entrymod.QUERIES}},
        "families": [],
        "sf": sf,
        "rows": 600_000,
        "cpus": 4,
        "build_clean": True,
        "host_probe_per_query": {q.name: [0.03, 0.1, 0.3] for q in entrymod.QUERIES},
    }


@pytest.mark.parametrize(
    "sf, digits",
    [("/data/sf0.1", 3), ("/data/sf0.1", 15), ("/" + "d" * 2000, 15)],
    ids=["short", "long_values", "long_sf"],
)
def test_emit_last_line_parses_under_limit(no_spark, tmp_path, capsys, sf, digits):
    detail = _detail(sf, digits)
    path = tmp_path / "BENCH_FULL.json"
    bench._emit(detail, path)
    last = capsys.readouterr().out.strip().splitlines()[-1]
    assert len(last) < 1500
    rec = json.loads(last)
    assert (rec["metric"], rec["value"], rec["unit"]) == (
        detail["metric"], detail["value"], detail["unit"])
    # the detail file keeps every timed key, whatever the line dropped
    assert json.loads(path.read_text())["queries"] == detail["queries"]


def test_emit_headline_queries_are_registry_names(no_spark, tmp_path, capsys):
    names = {q.name for q in entrymod.QUERIES}
    assert set(bench.HEADLINE_QUERIES) <= names
    bench._emit(_detail("/data/sf0.1", 3), tmp_path / "BENCH_FULL.json")
    rec = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert list(rec["queries"]) == list(bench.HEADLINE_QUERIES)
    assert rec["n_timed_queries"] == len(names) + 1


def test_unknown_family_fails_closed_before_spark(no_spark, monkeypatch):
    monkeypatch.setattr(
        "sys.argv", ["bench.py", "--family=core", "--family=no_such_family"])
    with pytest.raises(SystemExit) as exc:
        bench.main()
    assert "no_such_family" in str(exc.value)
    assert "'core'" not in str(exc.value)
