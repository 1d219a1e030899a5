"""CLI surface: list / run / explain / oracle over the registry."""

from __future__ import annotations

import json

from distributed_mapreduce_in_docker_rpyc_spark.__main__ import main


def test_cli_list_marks_oracle_checked(capsys):
    assert main(["list", "--prefix", "wordcount"]) == 0
    out = capsys.readouterr().out.splitlines()
    assert "* wordcount_top20" in [ln.rstrip() for ln in out]


def test_cli_run_prints_json_rows(reapplies_get_spark, sf_dir, capsys):
    assert main(["run", "wordcount_top20", "--sf-dir", sf_dir, "--limit", "5"]) == 0
    lines = [ln for ln in capsys.readouterr().out.splitlines() if ln.strip()]
    assert len(lines) == 5
    row = json.loads(lines[0])
    assert set(row) == {"word", "cnt"}


def test_cli_explain_prints_physical_plan(reapplies_get_spark, sf_dir, capsys):
    assert main(["explain", "q1_pricing_summary", "--sf-dir", sf_dir]) == 0
    out = capsys.readouterr().out
    assert "Physical Plan" in out


def test_cli_oracle_and_unknown_name(capsys):
    assert main(["oracle", "wordcount_top20"]) == 0
    assert "GROUP BY word" in capsys.readouterr().out
    assert main(["run", "no_such_query"]) == 2
    assert main(["oracle", "storage_file_report"]) == 1
