"""spark-submit job: replay a change log into an Icelet table.

    spark-submit --py-files filipo_spark.zip filipo_spark/jobs/replay.py \
        --source /data/wal --table /data/transcripts \
        --batch-size 100000000 --n-buckets 256 [--bootstrap /data/seed.parquet]

Exactly-once: re-running with the same source/table resumes from the
commit manifest (committed LSN ranges are skipped).  Threshold/size
knobs keep FiLiPo's config vocabulary where they correspond
(config.json:13-30).
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--source", required=True, help="parquet dir of CHANGE_SCHEMA rows")
    ap.add_argument("--table", required=True, help="Icelet table root (created if absent)")
    ap.add_argument("--batch-size", type=int, default=1_000_000)
    ap.add_argument("--n-buckets", type=int, default=32)
    ap.add_argument("--bootstrap", help="optional parquet of initial logical target rows")
    ap.add_argument("--mapping", help="optional mapping.json to re-type a drifted source")
    ap.add_argument("--auto-realign", action="store_true",
                    help="treat --source as a DRIFTED stream (payload map / raw "
                         "JSON): per-epoch mapping-health check, in-loop "
                         "re-alignment against the table's resolved state, "
                         "realign events fenced in the manifest (align/drift.py). "
                         "--mapping seeds the initial mapping; omitted → learned "
                         "from the first epoch")
    ap.add_argument("--drift-threshold", type=float, default=None,
                    help="health ratio that triggers re-alignment")
    ap.add_argument("--key-check-every", type=int, default=None,
                    help="add the key-membership health probe every N epochs "
                         "(catches string-key value corruption); default auto: "
                         "every epoch when the table keeps a key bloom sketch "
                         "(zero table I/O), else off; 0 forces off (the "
                         "fallback costs one column-pruned key scan per check)")
    ap.add_argument("--echo-check-every", type=int, default=0,
                    help="add the sampled echo audit every N epochs (catches "
                         "value corruption of mapped non-key columns; costs a "
                         "bucket-pruned read of the sampled keys' buckets)")
    ap.add_argument("--compact-every", type=int, default=0,
                    help="run delta compaction after every N epochs (0 = never)")
    ap.add_argument("--cpus", type=int, default=0, help="local[N] cores (0 = local[*])")
    args = ap.parse_args(argv)

    from filipo_spark.replay import run_replay
    from filipo_spark.session import get_spark
    from filipo_spark.table.icelet import IceletTable

    spark = get_spark("filipo-replay", cores=args.cpus or None)
    if os.path.exists(os.path.join(args.table, "metadata", "CURRENT")):
        table = IceletTable.load(args.table)
    else:
        table = IceletTable.create(args.table, n_buckets=args.n_buckets)
        if args.bootstrap:
            table.bootstrap(spark.read.parquet(args.bootstrap))

    source = spark.read.parquet(args.source)
    if args.auto_realign:
        from filipo_spark.align import Mapping
        from filipo_spark.replay import run_drifted_replay

        mapping = None
        if args.mapping:
            with open(args.mapping) as f:
                mapping = Mapping.from_json(f.read())
        report = run_drifted_replay(
            spark, table, source, batch_size=args.batch_size,
            mapping=mapping, drift_threshold=args.drift_threshold,
            compact_every=args.compact_every,
            key_check_every=args.key_check_every,
            echo_check_every=args.echo_check_every,
        )
        if args.mapping and report.mapping is not None:
            with open(args.mapping + ".current", "w") as f:
                f.write(report.mapping.to_json())
    else:
        if args.mapping:
            from filipo_spark.align import Mapping, apply_mapping

            with open(args.mapping) as f:
                source = apply_mapping(source, Mapping.from_json(f.read()))
        report = run_replay(
            spark, table, source, batch_size=args.batch_size,
            compact_every=args.compact_every,
        )
    if args.compact_every:
        # final fold so a run never ends on an over-fragmented table
        table.compact(spark, min_files=2)

    from filipo_spark.metrics import replay_metrics

    out = {
        "epochs_applied": report.epochs_applied,
        "epochs_skipped": report.epochs_skipped,
        "events_seen": report.events_seen,
        "rows_committed": report.rows_committed,
        **({"realigns": report.realigns} if args.auto_realign else {}),
        **replay_metrics(table),
    }
    json.dump(out, sys.stdout)
    print()


if __name__ == "__main__":
    main()
