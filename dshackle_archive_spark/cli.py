"""Command-line surface mirroring the reference's five commands
(``dshackle-archive {archive|stream|compact|fix|verify}``,
``/root/reference/src/args.rs:165-173``).

A user of the reference can run the same workflows against a local/posix
archive root. The chain connection is pluggable: ``--provider mock`` uses the
deterministic mock chain (this container has no blockchain node); a real
deployment registers a provider implementing the ``MockChain`` interface
(head/block/tx_ids/…-style fetch surface + ``block_json_schema``) and gRPC
transport inside ``FetchPolicy.call``.

Examples:
    python -m dshackle_archive_spark.cli archive --range 1000..1999 --dir /tmp/a
    python -m dshackle_archive_spark.cli verify --range 1000..1999 --dir /tmp/a --dry-run
    python -m dshackle_archive_spark.cli compact --range 1000..1999 --dir /tmp/a
    python -m dshackle_archive_spark.cli fix --range 1000..1999 --dir /tmp/a
    python -m dshackle_archive_spark.cli stream --batches 3 --dir /tmp/a --continue
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from .core.filenames import DataKind
from .core.ranges import Range, parse_range
from .session import get_spark
from .sources.fetcher import FetchPolicy
from .sources.mock_chain import MockChain

TABLE_ALIASES = {
    "blocks": DataKind.BLOCKS,
    "block": DataKind.BLOCKS,
    "txes": DataKind.TRANSACTIONS,
    "tx": DataKind.TRANSACTIONS,
    "transactions": DataKind.TRANSACTIONS,
    "traces": DataKind.TRACES,
}


def _tables(spec: str) -> tuple[DataKind, ...]:
    out = []
    for part in spec.lower().split(","):
        part = part.strip()
        if not part:
            continue
        if part not in TABLE_ALIASES:
            raise SystemExit(
                f"unknown table '{part}' (expected: blocks, txes, traces)"
            )
        if TABLE_ALIASES[part] not in out:
            out.append(TABLE_ALIASES[part])
    return tuple(out)


def _provider(args):
    if args.provider == "mock":
        return MockChain(head_height=args.mock_head)
    if args.provider in ("eth-rpc", "btc-rpc", "eth-dshackle", "btc-dshackle"):
        if not args.rpc_url:
            raise SystemExit(f"--rpc-url is required for provider '{args.provider}'")
        from .sources.rpc import BitcoinRpcProvider, EthereumRpcProvider

        eth = args.provider.startswith("eth")
        chain_id = args.chain or ("ETH" if eth else "BTC")
        client = None
        if args.provider.endswith("-dshackle") or args.rpc_url.startswith("dshackle://"):
            # S8: the reference's gRPC NativeCall transport (connection.rs)
            from .sources.dshackle import DshackleClient

            client = DshackleClient(
                args.rpc_url,
                chain=chain_id,
                tls=False if args.connection_notls else None,
                tls_ca=args.tls_ca,
            )
        cls = EthereumRpcProvider if eth else BitcoinRpcProvider
        return cls(args.rpc_url, blockchain_id=chain_id, client=client)
    raise SystemExit(
        f"unknown provider '{args.provider}' (mock, eth-rpc, btc-rpc, "
        "eth-dshackle, btc-dshackle); a custom chain plugs in by implementing "
        "the MockChain interface"
    )


def _apply_aws(args) -> None:
    """Fold the reference's AWS flag group (args.rs:229-249) into the
    ``s3://`` --dir as a pyarrow S3 URI: credentials as userinfo, endpoint
    override / scheme / region as query params — the exact URI shape the
    object-store sink resolves via ``pyarrow.fs.FileSystem.from_uri``
    (see tests/test_s3_roundtrip.py against the wire-level S3 stub)."""
    from urllib.parse import quote

    given = [args.aws_access_key, args.aws_secret_key, args.aws_endpoint,
             args.aws_region, args.aws_path_style or None,
             getattr(args, "aws_trust_tls", False) or None]
    if not any(x for x in given):
        return
    if not args.dir or not args.dir.startswith("s3://"):
        raise SystemExit("--aws.* options require an s3:// --dir")
    if bool(args.aws_access_key) != bool(args.aws_secret_key):
        raise SystemExit("auth.aws.access-key and auth.aws.secret-key are "
                         "required together")
    if getattr(args, "aws_trust_tls", False):
        # args.rs:248-250: trust the endpoint's certificate. Installed
        # BEFORE any S3 client exists so every later from_uri resolution
        # (driver and local-mode executors) verifies against the pin.
        from .sources.s3_tls import trust_s3_endpoint

        trust_s3_endpoint(args.aws_endpoint, tls_ca=args.tls_ca)
    base, sep, query = args.dir[5:].partition("?")
    creds = ""
    if args.aws_access_key and "@" not in base.split("/", 1)[0]:
        creds = "{}:{}@".format(
            quote(args.aws_access_key, safe=""),
            quote(args.aws_secret_key, safe=""),
        )
    q = [query] if query else []
    if args.aws_endpoint:
        ep, scheme = args.aws_endpoint, None
        for s in ("http", "https"):
            if ep.startswith(s + "://"):
                scheme, ep = s, ep[len(s) + 3:]
        q.append(f"endpoint_override={quote(ep, safe=':')}")
        if scheme:
            q.append(f"scheme={scheme}")
    if args.aws_region:
        q.append(f"region={quote(args.aws_region, safe='')}")
    args.dir = "s3://" + creds + base + ("?" + "&".join(q) if q else "")


def _scope(args, provider) -> Range:
    if args.range:
        try:
            return parse_range(args.range)
        except ValueError as e:
            raise SystemExit(f"bad --range: {e}")
    if args.tail:
        # --tail N: the last N blocks, holding back 4 unsettled tip blocks
        # (reference blocks_config.rs:27-46)
        hi = provider.head() - 4
        return Range(max(0, hi - args.tail + 1), hi)
    raise SystemExit("one of --range or --tail is required")


def build_parser() -> argparse.ArgumentParser:
    """The full CLI surface — one parser, reference args.rs drop-in
    (every flag, short option, and dotted/camelCase alias). Exposed so
    tests can property-check that every alias spelling of every flag
    parses to the identical namespace as its canonical form."""
    p = argparse.ArgumentParser(prog="dshackle-archive-spark")
    p.add_argument("command",
                   choices=["archive", "stream", "compact", "fix", "verify", "curate",
                            "vacuum", "report"])
    p.add_argument("--dir", "-d", default=None, help="archive root directory")
    p.add_argument("--range", "-r", help="block range N..M (or single N)")
    p.add_argument("--tail", type=int, help="operate on the last N blocks")
    p.add_argument("--tables", "-t", default="blocks,txes", help="comma list: blocks,txes,traces")
    p.add_argument("--range-chunk", "--range.chunk", "--rangeChunk", type=int,
                   default=1000, dest="chunk")
    p.add_argument("--parallel", type=int, default=None,
                   help="API rate cap (1-512); absent → "
                        "$EMERALD_DSHACKLE_THREADS_API, then 16")
    p.add_argument("--dry-run", "--dryRun", "--dryrun", dest="dry_run",
                   action="store_true")
    p.add_argument("--fix-clean", "--fix.clean", dest="fix_clean",
                   action="store_true", help="verify: delete incomplete groups")
    p.add_argument("--snapshot", action="store_true",
                   help="verify/compact: commit prunes/rewrites as ONE atomic "
                        "manifest swap (sources/snapshots.py) instead of "
                        "physical deletes; old files stay until vacuum")
    p.add_argument("--keep-last", type=int, default=2,
                   help="vacuum: retain the newest N snapshots (default 2)")
    p.add_argument("--continue", dest="continue_", action="store_true",
                   help="stream: backfill the previous 100 blocks first")
    p.add_argument("--follow", choices=["latest", "finalized"], default="latest")
    p.add_argument("--batches", type=int, default=3, help="stream: micro-batches to run")
    p.add_argument("--head-source", choices=["poll", "subscribe"], default="poll",
                   dest="head_source",
                   help="stream head discovery: per-batch poll, or a "
                        "reconnecting push subscription (gRPC SubscribeHead "
                        "when the provider speaks dshackle, long-poll "
                        "otherwise)")
    p.add_argument("--format", choices=["parquet", "avro"], default="parquet",
                   dest="fmt", help="archive file format (avro = reference-compatible)")
    p.add_argument("--compression", choices=["zstd", "snappy"], default="zstd",
                   help="compression for newly written archive files "
                        "(args.rs:102-104; default zstd = the reference's "
                        "level-9 avro blocks, global.rs:34-43)")
    p.add_argument("--fields-trace", "--fields.trace", "--fieldsTrace",
                   dest="fields_trace",
                   default="calls,stateDiff", metavar="LIST",
                   help="which geth tracers the trace archive runs: comma "
                        "list of calls,stateDiff (TraceOptions, "
                        "datakind.rs:224-256)")
    p.add_argument("--notify-dir", "--notify.dir", dest="notify_dir",
                   default=None, metavar="DIR",
                   help="write this run's notifications as one "
                        "dshackle-archive-<ts>.jsonl file in DIR "
                        "(notify/fs.rs:18-46)")
    p.add_argument("--notify-pulsar-topic", "--notify.pulsar.topic",
                   dest="notify_pulsar_topic", default=None, metavar="TOPIC",
                   help="send notifications as JSON to this Pulsar topic "
                        "(notify.pulsar.url must be specified; "
                        "notify/pulsar.rs:30-68)")
    p.add_argument("--notify-pulsar-url", "--notify.pulsar.url",
                   dest="notify_pulsar_url", default=None, metavar="URL",
                   help="Pulsar service URL for notifications "
                        "(notify.pulsar.topic must be specified)")
    p.add_argument("--metrics-await", "--metrics.await", dest="metrics_await",
                   action="store_true",
                   help="with --metrics: wait for one final /metrics scrape "
                        "after the command finishes, so a pull-based "
                        "Prometheus never misses the run's last counters "
                        "(metrics/server.rs:34-50)")
    p.add_argument("--auth-aws-access-key", "--auth.aws.access-key",
                   "--auth.aws.accessKey", "--auth.aws.accesskey",
                   dest="aws_access_key", default=None, metavar="KEY",
                   help="S3 access key for an s3:// --dir (args.rs:229-233; "
                        "both key flags required together)")
    p.add_argument("--auth-aws-secret-key", "--auth.aws.secret-key",
                   "--auth.aws.secretKey", "--auth.aws.secretkey",
                   dest="aws_secret_key", default=None, metavar="SECRET",
                   help="S3 secret key for an s3:// --dir")
    p.add_argument("--aws-endpoint", "--aws.endpoint", dest="aws_endpoint",
                   default=None, metavar="URL",
                   help="S3-compatible endpoint override (args.rs:237; "
                        "default is AWS itself, storage/mod.rs:83); http:// "
                        "or https:// prefix selects the scheme")
    p.add_argument("--aws-region", "--aws.region", dest="aws_region",
                   default=None, metavar="REGION", help="S3 region")
    p.add_argument("--aws-trust-tls", "--aws.trust-tls", "--aws.trustTls",
                   "--aws.trusttls",
                   dest="aws_trust_tls", action="store_true",
                   help="trust the TLS certificate the s3 endpoint presents "
                        "(args.rs:248-250): self-signed MinIO-style stores. "
                        "Implemented as trust-on-first-use pinning — the "
                        "presented cert becomes the process's trust root "
                        "(sources/s3_tls.py); with --tls-ca PEM that CA is "
                        "trusted instead, with no network fetch")
    p.add_argument("--aws-s3-path-style", "--aws.s3.path-style",
                   "--aws.s3.pathStyle", "--aws.s3.pathstyle",
                   dest="aws_path_style", action="store_true",
                   help="path-style bucket addressing (args.rs:245); accepted "
                        "for reference command-line compatibility — the "
                        "pyarrow S3 client already uses path-style whenever "
                        "an endpoint override is set")
    p.add_argument("--provider", default="mock",
                   help="mock | eth-rpc | btc-rpc (JSON-RPC over HTTP) | "
                        "eth-dshackle | btc-dshackle (gRPC NativeCall)")
    p.add_argument("--rpc-url", default=None,
                   help="node endpoint URL (http://..., dshackle://host:port "
                        "plaintext, or dshackles://host:port for TLS+ALPN h2)")
    p.add_argument("--connection-notls", "--connection.notls",
                   dest="connection_notls", action="store_true",
                   help="disable TLS on the dshackle gRPC connection even "
                        "for a dshackles:// URL (args.rs:182-184)")
    p.add_argument("--tls-ca", dest="tls_ca", default=None, metavar="PEM",
                   help="CA bundle to verify the dshackle TLS endpoint "
                        "(private-CA deployments)")
    p.add_argument("--chain", "--blockchain", "-b", dest="chain", default=None,
                   help="blockchain id (ETH, BTC, ...; the reference's\n                        -b/--blockchain")
    p.add_argument("--connection", "-c", dest="connection", default=None,
                   metavar="HOST:PORT",
                   help="dshackle gRPC endpoint, the reference's -c/--connection\n                        (args.rs:178-180): implies the *-dshackle provider for\n                        the selected blockchain, TLS on by default\n                        (--connection-notls for plaintext)")
    p.add_argument("--mock-head", type=int, default=1_000_000)
    p.add_argument("--input", default=None,
                   help="curate: parquet path of the documents corpus")
    p.add_argument("--output", default=None,
                   help="curate: output path (partitioned by split)")
    p.add_argument("--benchmark", default=None,
                   help="curate: parquet path of the benchmark/eval docs "
                        "to decontaminate against")
    p.add_argument("--strip-passages", action="store_true",
                   help="curate: strip corpus-repeated 12-token passages "
                        "(RefinedWeb line-dedup stage) before exact dedup")
    p.add_argument("--incremental", action="store_true",
                   help="curate: treat --input as a NEW batch to add to the "
                        "already-curated corpus at --output (dedups against "
                        "its persisted _index, appends survivors + manifest "
                        "increment; never rescans the prior corpus)")
    p.add_argument("--input-format", choices=["parquet", "jsonl"],
                   default="parquet", dest="input_format",
                   help="curate/report: --input layout (jsonl = one JSON "
                        "object per line, gzip ok; corrupt lines are "
                        "quarantined and counted, never fatal)")
    p.add_argument("--master", default=None, help="spark master (default local[$SPARK_GRAFT_CPUS])")
    p.add_argument("--metrics", default=None, metavar="HOST:PORT",
                   help="serve Prometheus metrics at http://HOST:PORT/metrics "
                        "for the lifetime of the run (metrics/mod.rs:73-76)")
    return p


def main(argv: list[str] | None = None) -> int:
    p = build_parser()
    args = p.parse_args(argv)
    if args.metrics_await and not args.metrics:
        # without a server there is nothing to scrape: silently skipping the
        # final-scrape guarantee would strand a Prometheus-dependent caller
        raise SystemExit("--metrics.await requires --metrics HOST:PORT")
    _apply_aws(args)
    if args.connection:
        # the reference's -c HOST:PORT: a dshackle gRPC endpoint, TLS by
        # default, --connection.notls for plaintext (args.rs:178-184);
        # selects the matching *-dshackle provider for the blockchain
        if args.rpc_url:
            raise SystemExit("give either --connection or --rpc-url, not both")
        scheme = "dshackle" if args.connection_notls else "dshackles"
        args.rpc_url = f"{scheme}://{args.connection}"
        if args.provider == "mock":
            btc = (args.chain or "").upper().startswith(("BTC", "BITCOIN"))
            args.provider = "btc-dshackle" if btc else "eth-dshackle"
    if args.command in ("curate", "report"):
        if not args.input:
            raise SystemExit(f"{args.command} requires --input")
    elif not args.dir:
        raise SystemExit("--dir is required")

    if args.command == "vacuum":
        # snapshot retention GC: no Spark session needed (pure metadata)
        from .sources import snapshots as SNAP

        from .sources.ref_layout import strip_userinfo

        chain = (args.chain or "eth").lower()
        base = os.path.join(args.dir, chain)
        removed = SNAP.vacuum(base, keep_last=args.keep_last, dry_run=args.dry_run)
        print(json.dumps({"command": "vacuum", "base": strip_userinfo(base),
                          "keep_last": args.keep_last, "dry_run": args.dry_run,
                          "removed": removed,
                          "current": SNAP.current_version(base)}))
        return 0

    def _load_docs(spark):
        """--input in the selected layout → (docs, quarantined_line_count)."""
        if args.input_format == "jsonl":
            from .sources.jsonl import read_jsonl

            clean, quarantine = read_jsonl(spark, args.input)
            return clean, quarantine.count()
        return spark.read.parquet(args.input), 0

    if args.command == "report":
        from .plans.report_plan import corpus_report

        spark = get_spark("dshackle-archive-report", master=args.master)
        docs, n_quarantined = _load_docs(spark)
        rep = corpus_report(docs)
        print(json.dumps({"command": "report",
                          "quarantined_lines": n_quarantined, **rep},
                         sort_keys=True))
        return 0

    if args.notify_pulsar_url and not args.notify_pulsar_topic:
        raise SystemExit("notify.pulsar.url requires notify.pulsar.topic")
    if args.notify_pulsar_topic and not args.notify_pulsar_url:
        raise SystemExit("notify.pulsar.topic requires notify.pulsar.url")

    registry = None
    metrics_srv = None
    if args.metrics:
        from .operators.metrics import MetricsRegistry, start_metrics_server

        host, _, port = args.metrics.partition(":")
        registry = MetricsRegistry()
        metrics_srv = start_metrics_server(registry, host or "127.0.0.1", int(port))

    if args.command == "curate":
        from pyspark.sql import SparkSession

        from .plans.curate_plan import curate, curate_incremental

        owns_session = SparkSession.getActiveSession() is None
        spark = get_spark("dshackle-archive-curate", master=args.master)
        docs, _n_quarantined = _load_docs(spark)
        bench = spark.read.parquet(args.benchmark) if args.benchmark else None
        if args.incremental:
            if not args.output:
                raise SystemExit("curate --incremental requires --output "
                                 "(the existing curated corpus root)")
            _, res = curate_incremental(docs, args.output, benchmark=bench,
                                        snapshot=args.snapshot,
                                        strip_passages=args.strip_passages)
        else:
            _, res = curate(docs, benchmark=bench, output_path=args.output,
                            snapshot=args.snapshot,
                            strip_passages=args.strip_passages)
        print(json.dumps({"command": "curate", "stages": res.stage_counts,
                          "incremental": args.incremental,
                          "output": res.output_path}))
        if owns_session:
            spark.stop()
        return 0

    provider = _provider(args)
    tables = _tables(args.tables)
    from .sources.fetcher import parse_trace_options

    try:
        calls, state_diff = parse_trace_options(args.fields_trace)
    except ValueError as e:
        raise SystemExit(f"bad --fields-trace: {e}")
    # one resolve at startup (set_threads parity, global.rs:62-97):
    # --parallel > $EMERALD_DSHACKLE_THREADS_API > 16, clamped 1-512; the
    # tx/trace/blocks caps honor their own env spellings over the derived
    # api/2, api/4, api/2 defaults
    from .sources.fetcher import resolve_threads

    threads = resolve_threads(args.parallel)
    policy = FetchPolicy(parallel=threads.api, threads=threads,
                         include_call_trace=calls,
                         include_state_diff=state_diff)
    from pyspark.sql import SparkSession

    # only stop the session on exit if this invocation created it (embedded
    # callers share one session via getOrCreate)
    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark(f"dshackle-archive-{args.command}", master=args.master)

    recorder = None
    if registry is not None and getattr(provider, "client", None) is not None:
        # per-request timing into the blockchain metrics zone
        # (observe_request, connection.rs:66): executor-side RPC calls
        # report through a Spark accumulator, drained after the command
        from .operators.metrics import SparkRequestRecorder

        recorder = SparkRequestRecorder(spark.sparkContext)
        provider.client.metrics = (recorder, provider.blockchain_id)

    out: dict
    notif_frames: list = []
    if args.command == "archive":
        from .plans.archive_plan import archive

        rng = _scope(args, provider)
        t0 = time.perf_counter()
        res = archive(spark, provider, args.dir, rng, tables=tables,
                      chunk=args.chunk, policy=policy, fmt=args.fmt,
                      compression=args.compression)
        if registry is not None:
            registry.record_write_results(res.write_rows, time.perf_counter() - t0)
        out = {"command": "archive", "range": str(rng), "written": res.written,
               "skipped": res.skipped, "files": res.files}
        notif_frames = [res.notifications]
    elif args.command == "fix":
        from .plans.fix_plan import fix

        rng = _scope(args, provider)
        res = fix(spark, provider, args.dir, rng, tables=tables, chunk=args.chunk,
                  policy=policy, dry_run=args.dry_run, snapshot=args.snapshot,
                  fmt=args.fmt, compression=args.compression)
        out = {"command": "fix", "range": str(rng), "missing": res.missing,
               "archived_runs": len(res.archived),
               "snapshot_version": res.snapshot_version}
        notif_frames = [r.notifications for r in res.archived]
    elif args.command == "verify":
        from .plans.verify_plan import verify

        rng = _scope(args, provider)
        rep = verify(spark, provider, args.dir, rng, tables=tables,
                     fix_clean=args.fix_clean, dry_run=args.dry_run,
                     snapshot=args.snapshot)
        out = {"command": "verify", "range": str(rng), "groups": rep.groups_total,
               "ok": rep.groups_ok, "failures": rep.failures, "deleted": rep.deleted,
               "pruned_from_snapshot": rep.pruned_from_snapshot,
               "dry_run": rep.dry_run, "snapshot_version": rep.snapshot_version}
    elif args.command == "compact":
        from .plans.compact_plan import compact

        rng = _scope(args, provider)
        res = compact(spark, args.dir, provider.blockchain_id, rng, tables=tables,
                      chunk=args.chunk, dry_run=args.dry_run,
                      block_json_schema=provider.block_json_schema,
                      tx_list_field=getattr(provider, "tx_list_field", "transactions"),
                      snapshot=args.snapshot, fmt=args.fmt,
                      compression=args.compression)
        out = {"command": "compact", "range": str(rng),
               "compacted": res.compacted_chunks, "skipped": res.skipped_chunks,
               "deleted_sources": len(res.deleted),
               "snapshot_version": res.snapshot_version}
    else:  # stream
        from .streaming.stream_plan import run_stream

        head_source = None
        if args.head_source == "subscribe":
            from .streaming.head_source import HeadStream, polling_head_source

            sub = getattr(getattr(provider, "client", None), "subscribe_head", None)
            head_source = HeadStream(
                sub if sub is not None else polling_head_source(provider)
            )
        st = run_stream(spark, provider, args.dir, tables=tables, policy=policy,
                        follow=args.follow, continue_from_archive=args.continue_,
                        num_batches=args.batches, head_source=head_source,
                        metrics_registry=registry, fmt=args.fmt,
                        compression=args.compression)
        out = {"command": "stream", "batches": st.batches,
               "archived_heights": st.archived_heights, "backfilled": st.backfilled}
        if st.write_rows:
            from .sources import ref_layout

            notif_frames = [ref_layout.notifications_df(
                ref_layout.write_results_df(spark, st.write_rows)
            )]

    notif_frames = [f for f in notif_frames if f is not None]
    if notif_frames and (args.notify_dir or args.notify_pulsar_url):
        from functools import reduce

        nd = reduce(lambda a, b: a.unionByName(b), notif_frames)
        if args.notify_dir:
            from .sources.notify import write_notifications_dir

            out["notify_dir_file"] = write_notifications_dir(nd, args.notify_dir)
        if args.notify_pulsar_url:
            from .sources.notify import send_notifications

            send_notifications(nd, "pulsar-wire",
                               service_url=args.notify_pulsar_url,
                               topic=args.notify_pulsar_topic)
            out["notify_pulsar_topic"] = args.notify_pulsar_topic

    if recorder is not None:
        recorder.drain_into(registry)
    print(json.dumps(out))
    if metrics_srv is not None and args.metrics_await:
        from .operators.metrics import await_final_scrape

        # printed after the result line so scripted callers aren't blocked
        # from parsing it while we wait (reference waits up to 60s,
        # metrics/server.rs:36)
        scraped = await_final_scrape(metrics_srv)
        print(json.dumps({"metrics_await": "scraped" if scraped else "timeout"}),
              file=sys.stderr)
    if owns_session:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
