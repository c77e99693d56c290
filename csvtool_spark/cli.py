"""CLI for the csvtool dialect engine.

Mirrors the reference's CLI surface (main.go:149-168): ``-c 'query'`` or a
query piped on stdin; results stream to stdout as CSV, or to a file with
``-o``. Multi-statement input (``;``) writes -N suffixed files / prints
sequential blocks.

    python -m csvtool_spark.cli -c "select top 5 from '/data/f.csv'"
    echo "select ... ; select ..." | python -m csvtool_spark.cli -o out.csv
"""

from __future__ import annotations

import argparse
import csv
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="csvtool-spark", description=__doc__)
    ap.add_argument("-c", "--command", help="query text (default: read stdin)")
    ap.add_argument(
        "-o", "--output",
        help="write results to this path, in the format its extension "
        "names, as the GUI save does (a columnar format writes a "
        "directory; a bare name gets the CSV extension)",
    )
    ap.add_argument("--json", action="store_true", help="print JSON lines instead of CSV")
    ap.add_argument("--limit", type=int, default=0, help="cap printed rows (0 = all)")
    ap.add_argument(
        "--explain", action="store_true",
        help="print the Catalyst physical plan instead of executing",
    )
    ap.add_argument(
        "--serve", nargs="?", const=8060, type=int, metavar="PORT",
        help="serve the browser UI + JSON query API instead of running a "
        "query (the reference's primary mode, main.go:80-97; default port "
        "8060, 0 = ephemeral)",
    )
    ap.add_argument(
        "-s", "--persistent", action="store_true",
        help="don't stop the server when no browser is connected (the "
        "reference's -s flag, main.go:32)",
    )
    ap.add_argument(
        "--idle-timeout", type=float, default=120.0, metavar="SEC",
        help="with --serve: exit after this many seconds with no browser "
        "connected (the reference's 2-minute self-exit, main.go:79-97; "
        "--persistent disables)",
    )
    args = ap.parse_args(argv)

    from csvtool_spark.engine import CsvEngine
    from csvtool_spark.session import get_spark

    if args.serve is not None:
        from csvtool_spark.server import CsvToolServer

        srv = CsvToolServer(
            CsvEngine(get_spark("csvtool-serve")), port=args.serve,
            idle_timeout=None if args.persistent else args.idle_timeout,
        )
        srv.start()
        print(f"serving on http://127.0.0.1:{srv.port}/ (ctrl-c to stop)")
        try:
            srv.join()  # returns when the idle watchdog shut us down
        except KeyboardInterrupt:
            pass
        finally:
            srv.stop()
        # the reference exits 2 on the no-browser timeout (main.go:93-94)
        return 2 if srv.idle_exited else 0

    text = args.command if args.command else sys.stdin.read()
    if not text.strip():
        print("no query given", file=sys.stderr)
        return 2

    # Interactive parity with the reference: encrypt()/decrypt() without a
    # password prompt via getpass (reference: parser.go:979-1007). getpass
    # reads /dev/tty directly, so it works even when the query itself came
    # through stdin. Programmatic use of the engine stays strict.
    import getpass

    from csvtool_spark.dialect.compiler import set_password_provider

    set_password_provider(
        lambda fn: getpass.getpass(f"{fn}() password: ")
    )
    try:
        eng = CsvEngine(get_spark("csvtool-cli"))
        if args.explain:
            for df in eng.run(text):
                df.explain("formatted")
            return 0
        if args.output:
            for p in eng.save_csv(text, args.output):
                print(p)
            return 0
        if args.json:
            for block in eng.to_json(text, limit=args.limit or None):
                for line in block:
                    print(line)
            return 0

        from csvtool_spark.functions.caching import persist_scope

        w = csv.writer(sys.stdout)
        with persist_scope():
            for df in eng.run(text):
                w.writerow(df.columns)
                it = df.toLocalIterator() if not args.limit else iter(df.take(args.limit))
                for row in it:
                    w.writerow(["" if v is None else v for v in row])
        return 0
    finally:
        # the provider is CLI-scoped: in-process callers (tests, embedding
        # apps) must get the strict SemanticError behavior back
        set_password_provider(None)


if __name__ == "__main__":
    raise SystemExit(main())
