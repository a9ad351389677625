"""`mie`-compatible command-line surface over the Spark engine.

Command-for-command parity with the reference CLI dispatch
(cmd/mie/main.go:140-170: init / status / reset / export / import /
query), plus `backup` / `restore` riding the round-5 store surface.
Run as ``python -m mie_spark.cli <command> [options]``.

Each command resolves its store the same way the reference does:
`--config` (or MIE_CONFIG_PATH) → `.mie/config.yaml` walk-up → built-in
defaults with env overrides (status falls back to defaults rather than
erroring, status.go:65-69; the data-touching commands require a
config or run on the default data dir).

The Spark session starts lazily, only for commands that touch data —
`init` works without a JVM.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from mie_spark.config import (
    Config,
    _apply_env_overrides,
    config_path,
    default_config,
    load_config,
    resolve_storage_path,
    save_config,
    validate_config,
)

EXIT_OK = 0
EXIT_ERROR = 1
EXIT_CONFIG = 2


def _default_cfg() -> Config:
    cfg = default_config()
    _apply_env_overrides(cfg)
    validate_config(cfg)
    return cfg


def _load_cfg(path: str | None, fallback: bool = False) -> Config:
    """Config resolution. A MISSING config degrades to defaults+env
    (same data dir `mie init` would write, so the zero-config path
    works). An INVALID config — bad version, bad engine, unparseable —
    only degrades for ``fallback=True`` (status, status.go:65-69);
    every data-touching command propagates the error: silently running
    `reset` or `import` against default paths because the user's config
    failed to parse is exactly the surprise the reference avoids."""
    try:
        return load_config(path or None)
    except FileNotFoundError:
        if fallback:
            return _default_cfg()
        # "no config anywhere" may degrade to defaults; an EXPLICIT
        # pointer at a missing file (--config or MIE_CONFIG_PATH) must
        # not — resetting/importing into the default data dir because
        # of a typo'd path is the silent-wrong-store failure mode
        if not path and not os.environ.get("MIE_CONFIG_PATH"):
            return _default_cfg()
        raise
    except ValueError:
        if fallback:
            return _default_cfg()
        raise


def _client(cfg: Config):
    from mie_spark.api import MieClient
    from mie_spark.session import get_spark

    spark = get_spark("mie_cli")
    spark.sparkContext.setLogLevel("ERROR")
    return MieClient.from_config(spark, cfg)


def cmd_init(args: argparse.Namespace) -> int:
    """init.go:22-80: write .mie/config.yaml with defaults."""
    path = config_path(os.getcwd())
    if os.path.exists(path) and not args.force:
        print(f"Error: {path} already exists (use --force to overwrite)", file=sys.stderr)
        return EXIT_ERROR
    save_config(default_config(), path)
    print(f"Created {path}")
    return EXIT_OK


def cmd_status(args: argparse.Namespace) -> int:
    """status.go:40-120: engine, data dir, connectivity, node census."""
    cfg = _load_cfg(args.config, fallback=True)
    data_dir = resolve_storage_path(cfg)
    result: dict = {
        "storage_engine": cfg.storage.engine,
        "data_dir": data_dir,
        "embeddings_enabled": cfg.embedding.enabled,
        "connected": False,
    }
    if data_dir is not None and not os.path.isdir(data_dir):
        result["error"] = "No data found. Store something first."
    else:
        c = _client(cfg)
        result["connected"] = True
        result["stats"] = c.get_stats()
        result["usage"] = c.get_usage()
    if args.json:
        print(json.dumps(result, default=str))
    else:
        print("MIE Memory Status\n")
        print(f"  Engine:     {result['storage_engine']}")
        print(f"  Data dir:   {result['data_dir']}")
        print(f"  Embeddings: {'enabled' if result['embeddings_enabled'] else 'disabled'}")
        if result["connected"]:
            for k, v in result["stats"].items():
                print(f"  {k}: {v}")
        else:
            print(f"  {result.get('error', 'not connected')}")
    return EXIT_OK


def cmd_reset(args: argparse.Namespace) -> int:
    """reset.go:17-60: delete everything; --yes is mandatory."""
    if not args.yes:
        print("Error: reset requires --yes to confirm", file=sys.stderr)
        return EXIT_ERROR
    cfg = _load_cfg(args.config)
    _client(cfg).reset()
    print("Reset complete.")
    return EXIT_OK


def cmd_export(args: argparse.Namespace) -> int:
    """export.go:20-100: full-graph export, json or script form."""
    cfg = _load_cfg(args.config)
    c = _client(cfg)
    if args.format == "json":
        data = c.export_json()
        if args.include_embeddings:
            from mie_spark.schemas import EMBEDDING_TABLES

            for t in EMBEDDING_TABLES:
                data[t] = c.export_rows(t)
        payload = json.dumps(data, default=str, indent=2)
    elif args.format in ("sql", "datalog"):
        # the reference's datalog script maps to this engine's SQL script
        payload = c.export_sql_script()
    else:
        print(f"Error: unknown format {args.format!r}", file=sys.stderr)
        return EXIT_ERROR
    if args.output:
        with open(args.output, "w") as fh:
            fh.write(payload)
        print(f"Exported to {args.output}")
    else:
        print(payload)
    return EXIT_OK


def cmd_import(args: argparse.Namespace) -> int:
    """import.go:22-110: json or script import, --dry-run previews."""
    cfg = _load_cfg(args.config)
    if args.input:
        with open(args.input) as fh:
            payload = fh.read()
    else:
        payload = sys.stdin.read()
    c = _client(cfg)
    if args.format == "json":
        n = c.import_json(json.loads(payload), dry_run=args.dry_run)
    elif args.format in ("sql", "datalog"):
        n = c.import_sql_script(payload, dry_run=args.dry_run)
    else:
        print(f"Error: unknown format {args.format!r}", file=sys.stderr)
        return EXIT_ERROR
    verb = "Would import" if args.dry_run else "Imported"
    print(f"{verb} {n} rows")
    return EXIT_OK


def cmd_query(args: argparse.Namespace) -> int:
    """query.go:22-123: raw query escape hatch — full Spark SQL over
    the registered graph tables, rows out as JSON lines."""
    cfg = _load_cfg(args.config)
    c = _client(cfg)
    df = c.raw_query(args.sql)
    rows = df.limit(args.limit).collect()
    for r in rows:
        print(json.dumps(r.asDict(), default=str))
    print(f"-- {len(rows)} row(s)", file=sys.stderr)
    return EXIT_OK


def cmd_explain(args: argparse.Namespace) -> int:
    """Plan-health report for a raw SQL query — the Spark-first
    counterpart of the reference's opaque CozoScript execution
    (SURVEY.md §3: no plan surface at all). Prints one JSON object of
    the facts that decide 100 TB behavior: filters pushed into each
    scan, columns actually read, shuffle-exchange count, broadcast
    joins, cartesian/nested-loop joins (the red flag), and codegen
    span count — the same helpers tests/test_plans.py pins regressions
    with, exposed at the CLI for ad-hoc queries."""
    from mie_spark.plans import (
        broadcast_join_count,
        cartesian_product_count,
        exchange_count,
        pushed_filters,
        read_schemas,
        wholestage_codegen_spans,
    )

    cfg = _load_cfg(args.config)
    c = _client(cfg)
    df = c.raw_query(args.sql)
    report = {
        "pushed_filters": pushed_filters(df),
        "read_schemas": read_schemas(df),
        "shuffle_exchanges": exchange_count(df),
        "broadcast_joins": broadcast_join_count(df),
        "cartesian_or_nested_loop_joins": cartesian_product_count(df),
        "codegen_spans": wholestage_codegen_spans(df),
    }
    print(json.dumps(report))
    if args.verbose:
        from mie_spark.plans import formatted_plan

        print(formatted_plan(df), file=sys.stderr)
    return EXIT_OK


def cmd_backup(args: argparse.Namespace) -> int:
    cfg = _load_cfg(args.config)
    manifest = _client(cfg).backup(args.dest)
    print(f"Backed up {len(manifest)} table(s) to {args.dest}")
    return EXIT_OK


def cmd_restore(args: argparse.Namespace) -> int:
    cfg = _load_cfg(args.config)
    manifest = _client(cfg).restore(args.src)
    print(f"Restored {len(manifest)} table(s) from {args.src}")
    return EXIT_OK


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="mie_spark.cli",
        description="MIE memory graph CLI (Spark engine)",
    )
    p.add_argument("--config", default="", help="path to config.yaml (default: discovery)")
    sub = p.add_subparsers(dest="command", required=True)

    sp = sub.add_parser("init", help="create .mie/config.yaml")
    sp.add_argument("--force", action="store_true")
    sp.set_defaults(fn=cmd_init)

    sp = sub.add_parser("status", help="show graph status")
    sp.add_argument("--json", action="store_true")
    sp.set_defaults(fn=cmd_status)

    sp = sub.add_parser("reset", help="delete all data")
    sp.add_argument("--yes", action="store_true", help="confirm (required)")
    sp.set_defaults(fn=cmd_reset)

    sp = sub.add_parser("export", help="export the graph")
    sp.add_argument("--format", default="json", choices=["json", "sql", "datalog"])
    sp.add_argument("-o", "--output", default="")
    sp.add_argument("--include-embeddings", action="store_true")
    sp.set_defaults(fn=cmd_export)

    sp = sub.add_parser("import", help="import a previous export")
    sp.add_argument("--format", default="json", choices=["json", "sql", "datalog"])
    sp.add_argument("-i", "--input", default="")
    sp.add_argument("--dry-run", action="store_true")
    sp.set_defaults(fn=cmd_import)

    sp = sub.add_parser("query", help="raw SQL over the graph tables")
    sp.add_argument("sql")
    sp.add_argument("--limit", type=int, default=100)
    sp.set_defaults(fn=cmd_query)

    sp = sub.add_parser(
        "explain", help="plan-health report (pushdown/pruning/shuffles) for a SQL query"
    )
    sp.add_argument("sql")
    sp.add_argument("-v", "--verbose", action="store_true",
                    help="also print the full formatted plan to stderr")
    sp.set_defaults(fn=cmd_explain)

    sp = sub.add_parser("backup", help="point-in-time parquet backup")
    sp.add_argument("dest")
    sp.set_defaults(fn=cmd_backup)

    sp = sub.add_parser("restore", help="restore from a backup")
    sp.add_argument("src")
    sp.set_defaults(fn=cmd_restore)

    return p


def main(argv: list[str] | None = None) -> int:
    argv = list(sys.argv[1:] if argv is None else argv)
    # `mie --mcp` parity (main.go:53,137-139): the MCP mode is a global
    # flag, not a subcommand, so an AI-client launch config can pass it
    # with nothing else. Serves JSON-RPC over stdio until EOF.
    if "--mcp" in argv:
        argv.remove("--mcp")
        cfg_path = None
        for i, a in enumerate(argv):
            if a.startswith("--config="):
                cfg_path = a.split("=", 1)[1]
                break
            if a == "--config":
                if i + 1 >= len(argv):
                    print("Error: --config requires a path", file=sys.stderr)
                    return EXIT_ERROR
                cfg_path = argv[i + 1]
                break
        # same error boundary every subcommand gets: a typo'd --config
        # path or invalid config must exit with the one-line "Error: …"
        # contract, not an interpreter traceback at the AI client
        try:
            from mie_spark.api.mcp import McpStdioServer
            from mie_spark.api import MieClient

            cfg = _load_cfg(cfg_path)
            from mie_spark.session import get_spark

            spark = get_spark("mie_mcp")
            spark.sparkContext.setLogLevel("ERROR")
            McpStdioServer(MieClient.from_config(spark, cfg)).serve(
                sys.stdin, sys.stdout
            )
        except Exception as exc:  # noqa: BLE001 — CLI boundary
            print(f"Error: {exc}", file=sys.stderr)
            return EXIT_ERROR
        return EXIT_OK
    args = build_parser().parse_args(argv)
    try:
        return args.fn(args)
    except Exception as exc:  # noqa: BLE001 — CLI boundary
        print(f"Error: {exc}", file=sys.stderr)
        return EXIT_ERROR


if __name__ == "__main__":
    sys.exit(main())
