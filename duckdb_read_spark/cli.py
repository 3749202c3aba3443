"""CLI entry point (SURVEY §3 E1).

The reference traces DuckDB's shell: ``main`` → option table (``-c`` →
RunCommand) → ShellState::RunInitialCommand dispatching meta-commands vs
SQL → ExtractStatements → per-statement Connection::Query
(/root/reference/duckdb:2-9, 78-97, 128-140). Same surface here:

    engine-cli -c "SELECT 1"              one-shot SQL
    engine-cli -f script.sql              run a script file
    engine-cli --dialect duckdb -c "..."  DuckDB-flavored SQL via rewriter
    engine-cli --register-dir DIR         register fixture tables first
    echo "SELECT 1;" | engine-cli         read from stdin

Meta-commands (ShellState's ``.x`` dispatch analog,
/root/reference/duckdb:87-90): ``.tables``, ``.schema <t>``, ``.read <f>``.
Startup mirrors OpenDB (/root/reference/duckdb:120-125): build the engine
with pinned confs, then apply ``--safe-mode`` (extension loading off —
enable_external_access analog, /root/reference/duckdb:125).
"""

from __future__ import annotations

import argparse
import sys


def _print_df(df, limit: int) -> None:
    df.show(n=limit, truncate=False)


def run_statement(engine, stmt: str, dialect: str, limit: int) -> None:
    """Dispatch one statement: meta-command or SQL (RunInitialCommand analog)."""
    s = stmt.strip()
    if not s:
        return
    if s.startswith("."):
        parts = s.split()
        if parts[0] == ".tables":
            for r in engine.sql("SHOW TABLES").collect():
                print(r.name)
        elif parts[0] == ".schema" and len(parts) > 1:
            engine.table(parts[1]).printSchema()
        elif parts[0] == ".read" and len(parts) > 1:
            with open(parts[1]) as fh:
                for sub in _split(engine, fh.read()):
                    run_statement(engine, sub, dialect, limit)
        elif parts[0] == ".explain" and len(parts) > 1:
            print(engine.explain(s.split(None, 1)[1], dialect=dialect))
        else:
            print(f"unknown meta-command: {parts[0]}", file=sys.stderr)
        return
    _print_df(engine.sql(s, dialect=dialect), limit)


def _split(engine, script: str) -> list[str]:
    from .engine import split_statements

    return split_statements(script)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="engine-cli", description=__doc__.split("\n")[0])
    ap.add_argument("-c", "--command", help="SQL (possibly multi-statement) to run")
    ap.add_argument("-f", "--file", help="SQL script file to run")
    ap.add_argument("--dialect", choices=["spark", "duckdb"], default="duckdb",
                    help="input SQL dialect (default duckdb — the reference surface)")
    ap.add_argument("--register-dir", default=None,
                    help="register fixture parquet tables from this directory")
    ap.add_argument("--master", default="local[*]")
    ap.add_argument("--limit", type=int, default=40, help="max rows to display")
    ap.add_argument("--safe-mode", action="store_true",
                    help="disable extension loading (enable_external_access analog)")
    args = ap.parse_args(argv)

    from .engine import Engine

    engine = Engine(master=args.master, extensions_allowed=not args.safe_mode)
    if args.register_dir:
        engine.register_fixture_dir(args.register_dir)

    script = None
    if args.command is not None:
        script = args.command
    elif args.file is not None:
        with open(args.file) as fh:
            script = fh.read()
    elif not sys.stdin.isatty():
        script = sys.stdin.read()

    if script is None:
        ap.print_help()
        return 2

    for stmt in _split(engine, script):
        run_statement(engine, stmt, args.dialect, args.limit)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
