"""CLI surface (python -m findb_spark) — the reference-binary analog."""

from __future__ import annotations

from findb_spark.__main__ import main


def test_cli_list(capsys):
    assert main(["list"]) == 0
    out = capsys.readouterr().out
    assert "q1_pricing_summary" in out and "dedup_minhash_lsh" in out


def test_cli_asof_and_sql(spark, sf_dir, capsys):
    assert main(["--sf-dir", sf_dir, "asof", "--asset", "0",
                 "--start", "19960101", "--end", "19981231"]) == 0
    assert "asset_id" in capsys.readouterr().out
    assert main(["--sf-dir", sf_dir, "sql",
                 "SELECT COUNT(*) AS n FROM lineitem"]) == 0
    assert "6000" in capsys.readouterr().out


def test_cli_unknown_query(spark, capsys):
    assert main(["query", "no_such_query"]) == 2


def test_cli_sf_dir_before_subcommand_not_clobbered(spark, capsys):
    """Pre-3.13 argparse re-applies subparser defaults over already-parsed
    top-level values; the subparser copies must use SUPPRESS defaults so
    `--sf-dir D <cmd>` actually reads D.  sf0.01 has 60000 lineitem rows vs
    sf0.001's 6000, so the count proves which directory was read."""
    assert main(["--sf-dir", "/root/testdata/sf0.01", "sql",
                 "SELECT COUNT(*) AS n FROM lineitem"]) == 0
    assert "60000" in capsys.readouterr().out


def test_cli_sf_dir_after_subcommand(spark, capsys):
    assert main(["sql", "SELECT COUNT(*) AS n FROM lineitem",
                 "--sf-dir", "/root/testdata/sf0.01"]) == 0
    assert "60000" in capsys.readouterr().out


def test_cli_check_subcommand(spark, capsys):
    assert main(["check", "q1_pricing_summary"]) == 0
    out = capsys.readouterr().out
    assert "OK    q1_pricing_summary" in out and "1/1 ok" in out
    assert main(["check", "no_such"]) == 2

