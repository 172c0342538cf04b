"""Interactive SQL REPL — the rebuild's HBaseSQLCliDriver
(reference src/main/scala/org/apache/spark/sql/hbase/HBaseSQLCliDriver.scala:36-304):
a thin loop over HeraclesSession.sql with per-statement timing
("Time taken: Ns", HBaseSQLCliDriver.scala:227-235) and HELP text for the
custom DDL surface (:265-288).

Usage:
    python -m heracles_spark.cli [--metastore DIR] [-e "SQL;SQL"]
"""

from __future__ import annotations

import argparse
import sys
import time

from heracles_spark import sqltext

HELP = """Supported statements (≙ reference CLI HELP):
  CREATE TABLE t (col TYPE, ...) TBLPROPERTIES('keyCols'='a;b'[, ...])
  CREATE TABLE t TBLPROPERTIES('keyCols'='k') AS SELECT ...  (CTAS)
  DROP TABLE [IF EXISTS] t
  LOAD DATA [LOCAL] INPATH '<path>' [OVERWRITE] INTO TABLE t
  INSERT INTO t VALUES (...), (...)
  INSERT INTO t SELECT ...
  MERGE INTO t USING s ON ... WHEN [NOT] MATCHED [BY SOURCE] THEN ...
  UPDATE t SET c = expr, ... [WHERE pred]   (copy-on-write, file-pruned)
  DELETE FROM t [WHERE pred]                (copy-on-write, file-pruned)
  OPTIMIZE t   (compact + globally re-sort; restores disjoint file ranges)
  OPTIMIZE t COMPACT [TARGET n ROWS]  (minor: bin-pack small files only)
  CREATE ROLLUP r ON t GROUP BY a, b = expr AGG n = COUNT(*), s = SUM(c)
  REFRESH ROLLUP r   (fold new source files in; incremental/rebuild/noop)
  CREATE TABLE dst [SHALLOW] CLONE src  (zero-copy; no data moves)
  DESCRIBE HISTORY t (version log: every write is a new table version)
  SELECT ... FROM t VERSION AS OF n   (time travel, joinable with current)
  RESTORE TABLE t TO VERSION AS OF n  (metadata-only rollback)
  VACUUM t [RETAIN n VERSIONS]  (reclaim files retired by copy-on-write)
  CREATE INDEX i ON t (col[, col2...]) [INCLUDE (a, b)]  (covering/composite)
  REFRESH INDEX i ON t (incremental on appends) | DROP INDEX i ON t
  SHOW INDEXES [ON] t
  ANALYZE TABLE t COMPUTE STATISTICS [FOR ALL COLUMNS]
  CACHE TABLE t | UNCACHE TABLE t
  ALTER TABLE t ADD CONSTRAINT c CHECK (expr) | DROP CONSTRAINT c
  SHOW FILES [FOR] t   (file index: path, rows, key min/max)
  COPY t TO '<dir>' [FORMAT parquet|csv|json|orc]
  CREATE | DROP DATABASE [IF [NOT] EXISTS] db [CASCADE] | USE db
  ALTER TABLE t ADD [COLUMNS] (c TYPE, ...) | DROP [COLUMN] c
  SHOW TABLES | SHOW DATABASES | SHOW CREATE TABLE t
  DESCRIBE [EXTENDED] t
  SELECT ... (full Spark SQL)
  HELP | EXIT | QUIT
"""


KEYWORDS = sorted({
    w for line in HELP.splitlines()
    for w in line.replace("|", " ").split()
    if w.isalpha() and w.upper() == w and len(w) > 1
} | {"SELECT", "FROM", "WHERE", "GROUP", "ORDER", "BY", "LIMIT", "JOIN",
     "LEFT", "RIGHT", "FULL", "INNER", "CROSS", "UNION", "EXCEPT",
     "INTERSECT", "HAVING", "WITH", "AS", "ON", "AND", "OR", "NOT",
     "NULL", "LIKE", "BETWEEN", "IN", "EXISTS", "CASE", "WHEN", "THEN",
     "ELSE", "END", "DISTINCT", "VALUES", "INTO", "SET", "SOURCE"})


def _install_completer(session) -> None:
    """Tab completion over keywords + live catalog table/column names —
    the rebuild's jline completer stack (reference
    HBaseSQLCliDriver.scala:36-304 wires ArgumentCompleter/
    StringsCompleter over the same vocabulary). Gated behind readline
    availability (absent on some platforms; the REPL works without)."""
    try:
        import readline
    except ImportError:
        return

    def vocab() -> list[str]:
        names: list[str] = list(KEYWORDS)
        try:
            for t in session.catalog.list_tables():
                names.append(t)
                try:
                    for f in session.catalog.get_table(t).schema().fields:
                        names.append(f.name)
                except Exception:
                    pass
        except Exception:
            pass
        return names

    def complete(text: str, state: int):
        matches = [w for w in vocab()
                   if w.lower().startswith(text.lower())]
        return matches[state] if state < len(matches) else None

    readline.set_completer(complete)
    readline.set_completer_delims(" \t\n(),;=")
    readline.parse_and_bind("tab: complete")


def _color(s: str, code: str, enabled: bool) -> str:
    return f"\033[{code}m{s}\033[0m" if enabled else s


def _split_statements(script: str) -> list[str]:
    """Split a script on every ';' that is code — a semicolon inside a
    string literal, quoted identifier or comment does not terminate the
    statement. Each statement runs from its first code token to its
    last, as written; a piece holding only comments is dropped."""
    stmts, piece = [], []
    for t in sqltext.lex(script) + (None,):
        if t is None or (t.text == ";" and t.kind == "op"):
            if piece:
                stmts.append(script[piece[0].start:piece[-1].end])
            piece = []
        else:
            piece.append(t)
    return stmts


def run_statement(session, stmt: str, out=None, max_rows: int = 100) -> None:
    out = out if out is not None else sys.stdout
    t0 = time.time()
    df = session.sql(stmt)
    if df is not None:
        # Fetch at most max_rows+1: enough to know "there were more"
        # without collecting an unbounded result set onto the driver.
        rows = df.limit(max_rows + 1).collect()
        cols = df.columns
        out.write("\t".join(cols) + "\n")
        for r in rows[:max_rows]:
            out.write("\t".join("NULL" if v is None else str(v) for v in r) + "\n")
        if len(rows) > max_rows:
            out.write(f"... (more than {max_rows} rows)\n")
    out.write(f"Time taken: {time.time() - t0:.3f} seconds\n")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="heracles-sql")
    ap.add_argument("--metastore", default=None)
    ap.add_argument("-e", "--execute", default=None,
                    help="semicolon-separated statements, then exit")
    args = ap.parse_args(argv)

    from heracles_spark.session import HeraclesSession, get_session

    session = HeraclesSession(get_session("heracles-cli"),
                              metastore_dir=args.metastore)
    session.spark.sparkContext.setLogLevel("ERROR")

    if args.execute:
        for stmt in _split_statements(args.execute):
            run_statement(session, stmt)
        return 0

    _install_completer(session)
    tty = sys.stdout.isatty()
    sys.stdout.write("heracles-sql (PySpark). Type HELP for help, EXIT to quit.\n")
    prompt1 = _color("heracles> ", "1;36", tty)
    prompt2 = _color("       -> ", "36", tty)
    buf: list[str] = []
    while True:
        try:
            line = input(prompt1 if not buf else prompt2)
        except (EOFError, KeyboardInterrupt):
            break
        token = line.strip()
        if not buf and token.upper() in ("EXIT", "QUIT"):
            break
        if not buf and token.upper() == "HELP":
            sys.stdout.write(HELP)
            continue
        if not buf and token.upper().startswith("SOURCE "):
            # run statements from a script file (reference CLI parity)
            path = token[7:].strip().rstrip(";").strip()
            if [k for k, _, _ in sqltext.tokens(path)] in (["str"], ["dstr"]):
                path = sqltext.string_value(path)
            try:
                with open(path) as f:
                    stmts = _split_statements(f.read())
            except (OSError, ValueError) as e:
                sys.stdout.write(_color(f"Error: {e}\n", "31", tty))
                continue
            for stmt in stmts:
                try:
                    run_statement(session, stmt)
                except Exception as e:
                    sys.stdout.write(_color(f"Error: {e}\n", "31", tty))
            continue
        buf.append(line)
        if token.endswith(";"):
            stmt = "\n".join(buf).rstrip().rstrip(";")
            buf = []
            try:
                run_statement(session, stmt)
            except Exception as e:
                sys.stdout.write(_color(f"Error: {e}\n", "31", tty))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
