"""CLI entry — the reference's ``main()`` analog (reference main.cpp:22-59:
flag parsing, output-dir negotiation, conversion, count/size summary).

    python -m rosbag2parquet_spark --input /root/testdata/sf0.001/events.parquet \
        --outdir /tmp/out [--max-mbs 1.5] [--verbose]
"""

from __future__ import annotations

import argparse
import os
import sys


def main(argv: list[str] | None = None) -> int:
    argv = list(sys.argv[1:] if argv is None else argv)
    # subcommand: `info` = the rosbag-info stats companion (reference
    # rosbag_example.cpp); anything else is the converter (reference main.cpp)
    if argv and argv[0] == "info":
        ip = argparse.ArgumentParser(prog="rosbag2parquet_spark info")
        ip.add_argument(
            "--input", required=True, help="bag file (.bag = rosbag 2.0, else SBAG)"
        )
        args = ip.parse_args(argv[1:])
        from rosbag2parquet_spark.session import get_spark

        spark = get_spark("rosbag2parquet_spark_info")
        if os.path.isdir(os.path.join(args.input, "Messages")):
            # a CONVERTED layout: same stats from the metadata tables
            from rosbag2parquet_spark.info import print_layout_info

            print_layout_info(spark, args.input)
            return 0
        from rosbag2parquet_spark.info import print_info

        print_info(spark, args.input)
        return 0

    # subcommand: `vacuum` = layout crash-artifact GC (sinks.vacuum_layout)
    if argv and argv[0] == "vacuum":
        vp = argparse.ArgumentParser(prog="rosbag2parquet_spark vacuum")
        vp.add_argument("--layout", required=True, help="parquet layout dir")
        vp.add_argument(
            "--dry-run", action="store_true",
            help="list artifacts without removing/repairing",
        )
        args = vp.parse_args(argv[1:])
        from rosbag2parquet_spark.sinks import vacuum_layout

        for p in vacuum_layout(args.layout, dry_run=args.dry_run):
            print(p)
        return 0

    # subcommand: `validate` = the declarative data-quality gate over any
    # parquet table (operators/quality.py rule API; JSON rule spec)
    if argv and argv[0] == "validate":
        qp = argparse.ArgumentParser(prog="rosbag2parquet_spark validate")
        qp.add_argument(
            "--table", required=True, help="parquet table path to validate"
        )
        qp.add_argument(
            "--rules", required=True,
            help="JSON rule-spec file (see quality.rules_from_spec)",
        )
        args = qp.parse_args(argv[1:])
        import json as _json

        from rosbag2parquet_spark.operators.quality import (
            rules_from_spec,
            validate,
        )
        from rosbag2parquet_spark.session import get_spark
        from rosbag2parquet_spark.sources.catalog import read_parquet

        spark = get_spark("rosbag2parquet_spark_validate")
        with open(args.rules) as f:
            spec = _json.load(f)
        rules, parent_frames = rules_from_spec(spark, spec)
        rows = (
            validate(read_parquet(spark, args.table), rules, parent_frames)
            .orderBy("rule")
            .collect()
        )
        failed = 0
        for r in rows:
            mark = "ok  " if r["ok"] else "FAIL"
            failed += 0 if r["ok"] else 1
            print(
                f"{mark} {r['rule']}: {r['violations']}/{r['checked']}"
                " violations"
            )
        print(f"{len(rows) - failed}/{len(rows)} rules passed")
        return 1 if failed else 0

    # subcommand: `snapshot` = manifest lifecycle for time-travel reads
    # (snapshots.py) — create/list/verify are driver-side metadata ops
    if argv and argv[0] == "snapshot":
        sp = argparse.ArgumentParser(prog="rosbag2parquet_spark snapshot")
        sp.add_argument("--layout", required=True, help="parquet layout dir")
        g = sp.add_mutually_exclusive_group(required=True)
        g.add_argument(
            "--create", action="store_true",
            help="record the current file set as the next version",
        )
        g.add_argument(
            "--list", action="store_true", help="print existing versions"
        )
        g.add_argument(
            "--verify", type=int, metavar="V",
            help="check a version's files still exist at recorded sizes",
        )
        args = sp.parse_args(argv[1:])
        from rosbag2parquet_spark import snapshots as snap

        if args.create:
            print(f"v{snap.snapshot_create(args.layout)}")
        elif args.list:
            for v in snap.snapshot_versions(args.layout):
                print(f"v{v}")
        else:
            import json as _json

            mp = os.path.join(
                args.layout, snap.SNAPSHOT_DIR, f"v{args.verify}.json"
            )
            if not os.path.exists(mp):
                print(f"no snapshot v{args.verify}", file=sys.stderr)
                return 1
            with open(mp) as f:
                entries = _json.load(f)["files"]
            stale = [
                e["path"]
                for e in entries
                if not os.path.exists(os.path.join(args.layout, e["path"]))
                or os.path.getsize(os.path.join(args.layout, e["path"]))
                != e["size"]
            ]
            for p in stale:
                print(f"stale {p}")
            print(
                f"v{args.verify}: {len(entries) - len(stale)}/{len(entries)} "
                "files intact"
            )
            return 1 if stale else 0
        return 0

    # subcommand: `export` = the reverse direction — converted layout back
    # to indexed MCAP part files (round-trip surface; see export.py)
    if argv and argv[0] == "export":
        ep = argparse.ArgumentParser(prog="rosbag2parquet_spark export")
        ep.add_argument("--layout", required=True, help="converted layout dir")
        ep.add_argument("--outdir", required=True, help="bag output dir")
        ep.add_argument(
            "--format", default="mcap", choices=("mcap", "rosbag", "db3"),
            help="target container grammar",
        )
        ep.add_argument(
            "--parts", type=int, default=None,
            help="part-file count (default: ~256 MiB payload per part)",
        )
        ep.add_argument(
            "--encoding", default="cdr", choices=("cdr", "ros1"),
            help="MCAP: message encoding recorded on the channels "
            "(payloads are carried verbatim; declare what the layout's "
            "blobs are)",
        )
        ep.add_argument(
            "--schema-encoding", default="ros2msg",
            choices=("ros2msg", "ros1msg"),
        )
        ep.add_argument(
            "--compression", default=None,
            choices=(None, "", "lz4", "zstd", "none", "bz2"),
            help="chunk compression (mcap: lz4/zstd; rosbag: bz2/lz4)",
        )
        ep.add_argument("--crcs", action="store_true",
                        help="MCAP: emit real chunk/summary CRCs")
        ep.add_argument(
            "--topics", default=None,
            help="comma-separated topic subset (the converter's filter, "
            "mirrored on the way out; pushed to the parquet scans)",
        )
        ep.add_argument("--start-ns", type=int, default=None,
                        help="inclusive log-time lower bound")
        ep.add_argument("--end-ns", type=int, default=None,
                        help="exclusive log-time upper bound")
        ep.add_argument(
            "--as-recording", action="store_true",
            help="db3/mcap: also write metadata.yaml so the outdir is a "
            "recorded ROS 2 directory (ros2 bag play consumable)",
        )
        args = ep.parse_args(argv[1:])
        topics = args.topics.split(",") if args.topics else None
        # codec/format compatibility checked HERE, not deep inside an
        # executor task after part files already landed
        _codecs = {
            "mcap": {None, "", "lz4", "zstd"},
            "rosbag": {None, "none", "bz2", "lz4"},
            "db3": {None},
        }
        if args.compression not in _codecs[args.format]:
            print(
                f"error: --compression {args.compression!r} is not valid "
                f"for --format {args.format} (valid: "
                f"{sorted(c for c in _codecs[args.format] if c)})",
                file=sys.stderr,
            )
            return 2
        from rosbag2parquet_spark.export import (
            export_db3,
            export_mcap,
            export_rosbag,
        )
        from rosbag2parquet_spark.session import get_spark

        spark = get_spark("rosbag2parquet_spark_export")
        if args.format == "mcap":
            info = export_mcap(
                spark,
                args.layout,
                args.outdir,
                parts=args.parts,
                encoding=args.encoding,
                schema_encoding=args.schema_encoding,
                compression=args.compression or "",
                crcs=args.crcs,
                topics=topics,
                start_ns=args.start_ns,
                end_ns=args.end_ns,
                as_recording=args.as_recording,
            )
        elif args.format == "db3":
            info = export_db3(
                spark,
                args.layout,
                args.outdir,
                parts=args.parts,
                serialization_format=args.encoding,
                schema_encoding=args.schema_encoding,
                topics=topics,
                start_ns=args.start_ns,
                end_ns=args.end_ns,
                as_recording=args.as_recording,
            )
        else:
            info = export_rosbag(
                spark,
                args.layout,
                args.outdir,
                parts=args.parts,
                compression=args.compression or "none",
                topics=topics,
                start_ns=args.start_ns,
                end_ns=args.end_ns,
            )
        print(
            f"{info.count} messages exported to {info.parts} part(s) "
            f"under {args.outdir}"
        )
        return 0

    ap = argparse.ArgumentParser(prog="rosbag2parquet_spark")
    ap.add_argument(
        "--input",
        required=True,
        help="input log: .bag (rosbag 2.0), .sbag, or a stream parquet",
    )
    ap.add_argument("--outdir", required=True, help="output directory")
    ap.add_argument(
        "--max-mbs", type=float, default=None, help="stop after this many MB (ref --max_mbs)"
    )
    ap.add_argument(
        "--arrays",
        choices=("skip", "blobs", "native"),
        default="skip",
        help="array fields: skip (reference parity), blobs (uint8[] as "
        "binary columns), native (scalar arrays as ArrayType columns)",
    )
    ap.add_argument(
        "--unsigned",
        choices=("signed", "exact"),
        default="signed",
        help="uint32 handling: signed raw bits (reference parity) or exact "
        "LongType promotion",
    )
    ap.add_argument(
        "--compression",
        choices=("snappy", "zstd", "gzip", "lz4", "uncompressed"),
        default="snappy",
        help="parquet codec: snappy (reference parity, MessageTable.cpp:324) "
        "or zstd/gzip/lz4 for smaller read-many outputs",
    )
    ap.add_argument(
        "--msgdef",
        action="append",
        default=[],
        metavar="TYPE=PATH",
        help="ROS 2 (.db3) inputs: message definition file per datatype "
        "(repeatable), e.g. --msgdef geometry_msgs/PoseStamped=Pose.msg — "
        "only needed for pre-Iron bags; Iron+/v4 containers embed the "
        "definitions (message_definitions table) and need no flag. "
        "Caller-supplied definitions override embedded ones.",
    )
    ap.add_argument(
        "--on-error",
        choices=("fail", "permissive"),
        default="fail",
        help="undecodable payloads: fail (reference parity) or permissive "
        "(dead-letter: NULL fields + _decode_error column, raw blob kept)",
    )
    ap.add_argument(
        "--topics",
        default=None,
        help="bag inputs: comma-separated topic selection — whole "
        "connections prune BEFORE the scan consumes their payloads (the "
        "classic `rosbag filter` workflow; container indexes skip chunks "
        "at plan time)",
    )
    ap.add_argument(
        "--start-ns",
        type=int,
        default=None,
        help="bag inputs: keep messages with time_ns >= this (plan-time "
        "chunk pruning where the container indexes support it)",
    )
    ap.add_argument(
        "--end-ns",
        type=int,
        default=None,
        help="bag inputs: keep messages with time_ns < this",
    )
    ap.add_argument(
        "--append",
        action="store_true",
        help="bag inputs: ADD this batch to an existing layout at --outdir "
        "(daily-ingest mode): seqno continues after the existing max, "
        "known connection identities keep their ids, schema drift is "
        "refused before any write. Without it a non-empty outdir is "
        "side-stepped (outdir.N), never appended.",
    )
    ap.add_argument(
        "--evolve",
        action="store_true",
        help="with --append: allow ADDITIVE schema evolution on per-type "
        "tables (a definition gained or lost fields between recording "
        "sessions) — common columns must keep their types, new files carry "
        "the union schema with NULL pads; read evolved layouts with "
        "mergeSchema (the generated DDL does). Without --append: refused.",
    )
    ap.add_argument(
        "--resume",
        action="store_true",
        help="single bag input: convert only the DELTA of a bag that GREW "
        "since --outdir was built (live-recording ingest; .db3/SBAG, whose "
        "offsets are append-stable) — O(new rows) via the "
        "_ingest_state.json cursor; refuses a re-recorded bag.",
    )
    ap.add_argument("--verbose", action="store_true")
    args = ap.parse_args(argv)

    if args.evolve and not args.append:
        print("--evolve requires --append", file=sys.stderr)
        return 2
    if args.resume and args.append:
        print("--resume and --append are exclusive: resume grows ONE bag "
              "in place, append ingests new bags", file=sys.stderr)
        return 2
    if args.resume and (args.arrays != "skip" or args.unsigned != "signed"):
        print("--resume re-uses the layout's recorded --arrays/--unsigned "
              "modes (schema identity); don't pass them", file=sys.stderr)
        return 2

    filters_used = (
        args.topics is not None
        or args.start_ns is not None
        or args.end_ns is not None
    )
    if filters_used and (args.append or args.resume):
        print(
            "error: --topics/--start-ns/--end-ns produce a SUBSET layout — "
            "appending/resuming a subset into an existing full layout "
            "would be silent data loss; convert the subset to its own "
            "outdir",
            file=sys.stderr,
        )
        return 2

    # output-dir negotiation (ref main.cpp:35-54: derive, create, fail fast)
    out = args.outdir
    if os.path.exists(out) and not os.path.isdir(out):
        print(f"error: --outdir {out} exists and is not a directory", file=sys.stderr)
        return 2
    if (args.append or args.resume) and os.path.isdir(out) and os.listdir(out):
        pass  # append/resume writes INTO the existing layout — no rename
    elif os.path.isdir(out) and os.listdir(out):
        n = 1
        while os.path.exists(f"{out}.{n}"):
            n += 1
        out = f"{out}.{n}"
    os.makedirs(out, exist_ok=True)

    from rosbag2parquet_spark.convert import convert
    from rosbag2parquet_spark.session import get_spark

    spark = get_spark("rosbag2parquet_spark_cli")
    if args.verbose:
        spark.sparkContext.setLogLevel("INFO")

    from pyspark.sql import functions as F

    from rosbag2parquet_spark.sources import baglike as _baglike

    def _is_bag_fleet(inp: str) -> bool:
        """Directory containing bag files, or a glob over bags — but a
        parquet dataset directory (or glob) stays on the parquet path."""
        from rosbag2parquet_spark.convert import _looks_like_bag

        if os.path.isfile(inp):
            return False
        if os.path.isdir(inp):
            return any(
                _looks_like_bag(os.path.join(inp, p))
                for p in os.listdir(inp)
                if os.path.isfile(os.path.join(inp, p))
            )
        if any(ch in inp for ch in "*?["):
            import glob as _glob

            paths = _glob.glob(inp)
            return bool(paths) and any(_looks_like_bag(p) for p in paths)
        return False

    msgdefs = None
    if args.msgdef:
        msgdefs = {}
        for spec in args.msgdef:
            if "=" not in spec:
                print(f"error: --msgdef wants TYPE=PATH, got {spec!r}",
                      file=sys.stderr)
                return 2
            dtype, defpath = spec.split("=", 1)
            with open(defpath) as fh:
                msgdefs[dtype] = fh.read()

    if _is_bag_fleet(args.input):
        # FLEET path: a directory or glob of bags → one table layout with
        # continuous seqno and a reconciled Connections dim (the reference's
        # multi-file union claim, README.md:16, made explicit). A recorded
        # rosbag2 directory routes here too — resolve_bag_paths follows its
        # metadata.yaml shard manifest.
        if filters_used:
            print(
                "error: --topics/--start-ns/--end-ns are per-bag subset "
                "conversion — pass one bag file, not a fleet/directory",
                file=sys.stderr,
            )
            return 2
        if args.resume:
            print(
                "error: --resume grows ONE bag in place — pass the bag "
                "file; new fleet files ingest via --append",
                file=sys.stderr,
            )
            return 2
        from rosbag2parquet_spark.convert import convert_bags

        info = convert_bags(
            spark, args.input, out, arrays=args.arrays, unsigned=args.unsigned,
            compression=args.compression, msgdefs=msgdefs,
            on_error=args.on_error,
            mode="append" if args.append else "overwrite",
            evolve=args.evolve,
            max_mbs=args.max_mbs,
        )
    elif args.input.endswith((".bag", ".sbag")) or (
        os.path.isfile(args.input) and _baglike.bag_format(args.input)
    ):
        # real binary-bag path — the reference's full program: one
        # FLATTENED typed table per message type (each decoded with its own
        # msg_def), plus Messages/Connections and the DDL script
        if args.resume:
            # grown-bag delta ingest: cursor from the layout's
            # _ingest_state.json, O(new rows)
            from rosbag2parquet_spark.convert import resume_convert_bag

            info = resume_convert_bag(
                spark, args.input, out, compression=args.compression,
                msgdefs=msgdefs, on_error=args.on_error,
            )
        elif args.append:
            # appending a single bag is the one-bag fleet — same machinery
            from rosbag2parquet_spark.convert import convert_bags

            info = convert_bags(
                spark, [args.input], out, arrays=args.arrays,
                unsigned=args.unsigned, compression=args.compression,
                msgdefs=msgdefs, on_error=args.on_error, mode="append",
                evolve=args.evolve,
                max_mbs=args.max_mbs,
            )
        else:
            from rosbag2parquet_spark.convert import convert_bag

            info = convert_bag(
                spark, args.input, out, arrays=args.arrays,
                unsigned=args.unsigned, compression=args.compression,
                msgdefs=msgdefs, on_error=args.on_error,
                topics=(
                    [t.strip() for t in args.topics.split(",") if t.strip()]
                    if args.topics
                    else None
                ),
                start_ns=args.start_ns,
                end_ns=args.end_ns,
                max_mbs=args.max_mbs,
            )
    else:
        if filters_used:
            print(
                "error: --topics/--start-ns/--end-ns apply to bag inputs "
                "only (a parquet stream filters with plain SQL)",
                file=sys.stderr,
            )
            return 2
        if args.resume:
            print(
                "error: --resume applies to bag inputs only",
                file=sys.stderr,
            )
            return 2
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        from rosbag2parquet_spark.sources.catalog import read_parquet

        stream = read_parquet(spark, args.input)
        if "ts" in stream.columns and dict(stream.dtypes).get("ts") == "bigint":
            stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        order_cols = ["ts", "event_id"] if "event_id" in stream.columns else None
        info = convert(
            spark,
            stream,
            out,
            max_mbs=args.max_mbs,
            order_cols=order_cols,
            compression=args.compression,
        )
    # summary print (ref main.cpp:57-59)
    print(f"{info.count} messages ({info.size / (1 << 20):.2f} MB) written to {out}")
    return 0


if __name__ == "__main__":
    from rosbag2parquet_spark.session import stop_spark

    try:
        code = main()
    finally:
        stop_spark()  # the session main() built, if it built one
    sys.exit(code)
