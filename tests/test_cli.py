"""End-to-end CLI tests: the reference's `hadoop jar <class> <in> <out>`
contract (Makefile:43-44) as `python -m twitter_followers_patterns_mapreduce_spark`,
against the README sample graph goldens (SURVEY.md §2.9).
"""

from __future__ import annotations

import pytest

from twitter_followers_patterns_mapreduce_spark.cli import main

SAMPLE = "\n".join(
    ["1,2", "2,3", "3,1", "1,4", "4,5", "5,6", "6,4", "3,6", "2,5", "5,3"]
)


@pytest.fixture()
def edges_csv(tmp_path):
    p = tmp_path / "edges.csv"
    p.write_text(SAMPLE + "\n")
    return str(p)


@pytest.mark.parametrize(
    "job,expected",
    [
        ("count-edges", "10"),
        ("exact-2hop", "16"),
        ("approx-2hop", "16"),
        ("rsjoin-triangle", "6"),
        ("repjoin-triangle", "6"),
    ],
)
def test_cli_jobs_print_reference_goldens(spark, edges_csv, tmp_path, capsys, job, expected):
    out = str(tmp_path / f"out_{job}")
    assert main([job, edges_csv, out]) == 0
    assert capsys.readouterr().out.strip() == expected
    # part files landed (S4 contract)
    assert spark.read.parquet(out).count() >= 1


@pytest.mark.parametrize(
    "flags,expected",
    [
        ([], "16"),
        # --max 6 drops every edge touching node 6: 1-2 2-3 3-1 1-4 4-5 2-5 5-3
        # leave Σ indeg·outdeg = 2+2+2+1+2 = 9 (round-trips included, as in EX)
        (["--max", "6"], "9"),
    ],
)
def test_cli_exact_2hop_max_filter(spark, edges_csv, tmp_path, capsys, flags, expected):
    out = str(tmp_path / "out_ex")
    assert main(["exact-2hop", edges_csv, out, *flags]) == 0
    assert capsys.readouterr().out.strip() == expected
    assert spark.read.parquet(out).collect()[0][0] == int(expected)


def test_cli_query_job_runs_registered_query(spark, tmp_path, capsys):
    out = str(tmp_path / "out_query")
    assert main(["query", "/root/testdata/sf0.001", out, "--name", "degrees"]) == 0
    n = int(capsys.readouterr().out.strip())
    assert n >= 1
    assert spark.read.parquet(out).count() == n


def test_cli_query_job_rejects_unknown_name(tmp_path):
    import pytest as _pytest

    with _pytest.raises(SystemExit):
        main(["query", "/root/testdata/sf0.001", str(tmp_path / "x"), "--name", "nope"])


def test_cli_sql_job_runs_adhoc_sql(spark, tmp_path, capsys):
    out = str(tmp_path / "sql_out")
    rc = main(
        [
            "sql",
            "/root/testdata/sf0.001",
            out,
            "--sql",
            "SELECT COUNT(*) AS n FROM edges JOIN region ON 1=1 WHERE src < 100",
            "--format",
            "csv",
        ]
    )
    assert rc == 0
    assert int(capsys.readouterr().out.strip()) >= 1


def test_cli_sql_job_requires_sql_text(tmp_path):
    import pytest as _pytest

    with _pytest.raises(SystemExit):
        main(["sql", "/root/testdata/sf0.001", str(tmp_path / "x")])


def test_cli_compact_job(spark, tmp_path, capsys):
    src = str(tmp_path / "many")
    spark.range(0, 1000).repartition(16).write.parquet(src)
    rc = main(["compact", src, str(tmp_path / "few"), "--target-mb", "1024"])
    assert rc == 0
    assert int(capsys.readouterr().out.strip()) == 1


def test_cli_list_prints_all_queries(capsys):
    rc = main(["list"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "ce_count_edges" in out and "dedup_semantic" in out
    assert out.count("\n") >= 90


def test_cli_jobs_require_io_args():
    import pytest as _pytest

    with _pytest.raises(SystemExit):
        main(["count-edges"])  # missing input/output
