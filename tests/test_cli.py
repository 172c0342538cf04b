"""CLI REPL statement runner (≙ HBaseSQLCliDriver loop)."""

from __future__ import annotations

import io

import pytest

from heracles_spark.cli import run_statement, HELP


def test_run_statement_select(hsession):
    out = io.StringIO()
    run_statement(hsession, "SELECT 1 AS a, 'x' AS b", out)
    text = out.getvalue()
    assert "a\tb" in text and "1\tx" in text and "Time taken:" in text


def test_run_statement_ddl_flow(hsession, tmp_path):
    out = io.StringIO()
    run_statement(hsession, "CREATE TABLE c1 (k INT, v STRING) "
                            "TBLPROPERTIES('keyCols'='k')", out)
    run_statement(hsession, "INSERT INTO c1 VALUES (1, NULL)", out)
    run_statement(hsession, "SELECT * FROM c1", out)
    assert "1\tNULL" in out.getvalue()


def test_help_mentions_surface():
    for kw in ("CREATE TABLE", "LOAD DATA", "keyCols", "DESCRIBE"):
        assert kw in HELP


def test_keyword_vocab_and_color():
    from heracles_spark import cli

    assert "SELECT" in cli.KEYWORDS and "MERGE" in cli.KEYWORDS
    assert cli._color("x", "31", True) == "\033[31mx\033[0m"
    assert cli._color("x", "31", False) == "x"


def test_source_command(hsession, tmp_path, capsys, monkeypatch):
    from heracles_spark import cli
    import heracles_spark.session as S

    script = tmp_path / "s.sql"
    script.write_text(
        "CREATE TABLE src_t (k INT, v STRING) "
        "TBLPROPERTIES('keyCols'='k');\n"
        "INSERT INTO src_t VALUES (1, 'a');\n"
        "SELECT * FROM src_t;\n")
    inputs = iter([f"SOURCE {script};", "EXIT"])
    monkeypatch.setattr("builtins.input", lambda *_: next(inputs))
    monkeypatch.setattr(cli, "_install_completer", lambda s: None)
    monkeypatch.setattr(S, "get_session", lambda *a, **k: hsession.spark)
    monkeypatch.setattr(S, "HeraclesSession", lambda *a, **k: hsession)
    assert cli.main([]) == 0
    out = capsys.readouterr().out
    assert "1\ta" in out and "Time taken" in out


def test_run_statement_bounds_collect(hsession):
    # A large SELECT must not collect the full result set driver-side:
    # only max_rows+1 rows come back, with a "more" marker.
    out = io.StringIO()
    run_statement(hsession, "SELECT id FROM range(100000)", out)
    text = out.getvalue()
    assert "more than 100 rows" in text
    # header + 100 data rows + marker + timing
    assert len(text.strip().splitlines()) == 103


def test_split_statements_quote_aware():
    from heracles_spark.cli import _split_statements

    stmts = _split_statements(
        "INSERT INTO t VALUES ('a;b');\n"
        "SELECT 'it''s; fine' AS v; SELECT \";\" AS w;")
    assert stmts == ["INSERT INTO t VALUES ('a;b')",
                     "SELECT 'it''s; fine' AS v",
                     'SELECT ";" AS w']


def test_source_semicolon_in_literal(hsession, tmp_path, capsys, monkeypatch):
    from heracles_spark import cli
    import heracles_spark.session as S

    script = tmp_path / "lit.sql"
    script.write_text(
        "CREATE TABLE lit_t (k INT, v STRING) "
        "TBLPROPERTIES('keyCols'='k');\n"
        "INSERT INTO lit_t VALUES (1, 'a;b');\n"
        "SELECT * FROM lit_t;\n")
    inputs = iter([f"SOURCE {script};", "EXIT"])
    monkeypatch.setattr("builtins.input", lambda *_: next(inputs))
    monkeypatch.setattr(cli, "_install_completer", lambda s: None)
    monkeypatch.setattr(S, "get_session", lambda *a, **k: hsession.spark)
    monkeypatch.setattr(S, "HeraclesSession", lambda *a, **k: hsession)
    assert cli.main([]) == 0
    out = capsys.readouterr().out
    assert "1\ta;b" in out and "Error" not in out


def test_split_statements_comment_with_apostrophe():
    from heracles_spark.cli import _split_statements

    stmts = _split_statements(
        "-- the reference's demo; has an apostrophe and a semicolon\n"
        "SELECT 1 AS a;\n"
        "SELECT 'don''t; split' AS b; -- trailing comment's fine\n"
        "SELECT 2 AS c;")
    assert stmts == ["SELECT 1 AS a",
                     "SELECT 'don''t; split' AS b",
                     "SELECT 2 AS c"]


def test_reference_demo_walkthroughs(tmp_path, monkeypatch, capsys):
    """examples/demo{1,2,3}_*.sql — the ports of the reference's
    examples/spark-hbase-demo1-3.md walkthroughs (single-key rowkey
    table, composite-key bulk load + 5 query shapes, dual-layout
    sales group-bys) — must run clean through the CLI -e path."""
    import os

    from heracles_spark import cli

    # deterministic CSVs matching the demo headers' generators
    with open(tmp_path / "teacher.csv", "w") as f:
        for g in range(1, 9):
            for c in range(1, 6):
                for s in range(1, 31):
                    f.write(f"{g},{c},subject_{s},"
                            f"teacher_{g}_{s}_{c},{20 + (g*c+s) % 16}\n")
    with open(tmp_path / "sales.csv", "w") as f:
        for i in range(1, 10001):
            f.write(f"id{i},product{i % 7},region{i % 5},"
                    f"{(i * 13) % 1000},{(i * 7) % 50}\n")

    ex = os.path.join(os.path.dirname(cli.__file__), "..", "examples")
    subs = {"/tmp/heracles_teacher.csv": str(tmp_path / "teacher.csv"),
            "/tmp/heracles_sales.csv": str(tmp_path / "sales.csv")}
    for i, name in enumerate(["demo1_numbers.sql", "demo2_teacher.sql",
                              "demo3_sales1m.sql",
                              "demo4_vector_index.sql",
                              "demo5_statistics.sql",
                              "demo6_modern_sql.sql",
                              "demo7_round10.sql",
                              "demo8_round11.sql"]):
        monkeypatch.setenv("HERACLES_METASTORE",
                           str(tmp_path / f"ms{i}"))
        script = open(os.path.join(ex, name)).read()
        for k, v in subs.items():
            script = script.replace(k, v)
        rc = cli.main(["-e", script])
        assert rc in (0, None), name
        out = capsys.readouterr().out
        assert "Error" not in out, (name, out[-2000:])
        if name == "demo1_numbers.sql":
            assert "\n100\n" in out                    # count(*)
        if name == "demo3_sales1m.sql":
            assert "\n10000\n" in out                  # count(*)
            # both layouts give the same group-by answer
            lines = [l for l in out.splitlines()
                     if l.startswith("product4\t")]
            assert lines and len(lines) % 2 == 0
            half = len(lines) // 2
            assert lines[:half] == lines[half:]
        if name == "demo4_vector_index.sql":
            assert "\n200\n" in out                    # count(*)
            # SHOW INDEXES three times: fresh → stale after the
            # append → fresh again after REFRESH
            fresh = [l.split("\t")[-1] for l in out.splitlines()
                     if l.startswith("v (vector)\t")]
            assert fresh == ["True", "False", "True"]
        if name == "demo5_statistics.sql":
            assert "\n1000\n" in out                 # count(*)
            assert "histogram" in out                 # stats property
            assert '"rows": 1000' in out
            assert "incremental\t1500" in out         # REFRESH output
            assert "equi-depth-histogram" in out      # EXPLAIN ESTIMATE
        if name == "demo6_modern_sql.sql":
            # autoAnalyze kept stats current through both INSERTs
            stats_rows = [l for l in out.splitlines()
                          if l.startswith("px\t")]
            assert len(stats_rows) == 2
            assert stats_rows[0].split("\t")[1] == "300"   # table_rows
            assert stats_rows[1].split("\t")[1] == "400"
            assert "equi-depth-histogram" in out      # EXPLAIN ESTIMATE
            assert "independence" in out              # conjunction row
            assert "ndv-containment" in out           # join-chain row
            # ASOF JOIN produced bid values from the right side
            assert "99.5" in out and "77.0" in out
        if name == "demo7_round10.sql":
            # OR routing returned the 6 edge rows + the degenerate 5
            assert "\n9997\t999.7\n" in out
            assert "\n9999\n" in out
            # exact vector top-1 is the self-match family (vec_id 1 has
            # embedding exactly [7,11,3,5]); distance to it is 0
            assert "\n1\t0.0\n" in out
            # join reorder preserved the answer
            assert "\n6250\n" in out
        if name == "demo8_round11.sql":
            assert "\n400\n" in out                   # metadata count
            # EXPLAIN ROUTE shows both a route and a decline reason
            assert "pruned-scan" in out
            assert "no-access-path" in out
            # filtered ANN at full probe: vec_id 1 ([7,11,3,5], en
            # iff pmod(1,3)!=0 → 'de'; the en top hit is doc 0 family)
            assert "vector-index" in out
            # the LATERAL batch returned 3 rows per probe
            nn_rows = [l for l in out.splitlines()
                       if l.startswith("1\t") or l.startswith("2\t")]
            assert len([l for l in nn_rows if "\t" in l]) >= 6


def test_demo_script_end_to_end(tmp_path, monkeypatch, capsys):
    """examples/demo.sql must run clean through the CLI -e path — the
    user-facing tour (DDL, DML, mutations, time travel, index,
    OPTIMIZE, sharded COPY) is a regression surface, not documentation."""
    import os

    from heracles_spark import cli

    monkeypatch.setenv("HERACLES_METASTORE", str(tmp_path / "ms"))
    script = open(os.path.join(os.path.dirname(cli.__file__), "..",
                               "examples", "demo.sql")).read()
    script = script.replace("/tmp/heracles_demo_export",
                            str(tmp_path / "export"))
    rc = cli.main(["-e", script])
    assert rc in (0, None)
    out = capsys.readouterr().out
    assert "Error" not in out
    # the sharded export materialized per-region subdirs
    assert sorted(d for d in os.listdir(tmp_path / "export")
                  if d.startswith("region=")) == ["region=east",
                                                  "region=west"]


def test_split_statements_block_comment_and_escapes():
    from heracles_spark.cli import _split_statements

    assert _split_statements("SELECT 1 /* x; y */ ; SELECT 2") == \
        ["SELECT 1", "SELECT 2"]
    assert _split_statements(
        "SELECT 'a\\'; b' AS v; /* a /* nested; */ still; */ SELECT 3") == \
        ["SELECT 'a\\'; b' AS v", "SELECT 3"]
    # statements keep their inner comments as written; a piece of only
    # comments is no statement; an unclosed comment is an error
    assert _split_statements("SET a.b = x /* c; */ y; -- end;\n") == \
        ["SET a.b = x /* c; */ y"]
    with pytest.raises(ValueError, match="Unclosed bracketed comment"):
        _split_statements("SELECT 1; /* SELECT 2;")
