"""CLI entry: the spark-submit analog of the reference's k8s Job command.

Reference lifecycle (SURVEY.md §3.3): the operator renders a Job whose env
carries ``STREAMCONTEXT__SPEC`` (+ BACKFILL toggles); the process runs
either the change-capture loop or a backfill, exiting 0 on success, 2 on
retryable failure (k8s podFailurePolicy restarts on 2 — main.scala:63-66)
and 1 on a fatal one that a restart cannot fix: an invalid spec, a
staged/target schema mismatch under ``isUnifiedSchema``, or a snapshot
schema file in an unknown format.

Usage:
    python -m arcane_stream_microsoft_synapse_link_spark --spec spec.json --target-root /lake/t1
    python -m arcane_stream_microsoft_synapse_link_spark --spec spec.json --backfill [--backfill-id X]
    STREAMCONTEXT__SPEC='...' python -m arcane_stream_microsoft_synapse_link_spark   # env mode
    python -m arcane_stream_microsoft_synapse_link_spark --spec spec.json --set-state suspended
        # kubectl-annotate analog (docs/crd.md:9-14): suspended |
        # running | reload-requested — writes the control file a running
        # stream honors on its next tick, no Spark session needed
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="arcane_stream_microsoft_synapse_link_spark")
    ap.add_argument("--spec", help="path to reference-shaped spec JSON (else STREAMCONTEXT__SPEC)")
    ap.add_argument("--target-root", help="override target table root path")
    ap.add_argument("--backfill", action="store_true", help="run backfill instead of change capture")
    ap.add_argument("--backfill-id", help="resumable sharded backfill id")
    ap.add_argument("--max-ticks", type=int, default=None, help="bound the capture loop (tests)")
    ap.add_argument(
        "--set-state",
        choices=["running", "suspended", "reload-requested"],
        help="write the stream's desired state (arcane/state analog) and exit",
    )
    args = ap.parse_args(argv)

    from .config import spec_from_env, spec_from_json
    from .operators.retry import FatalError
    from .session import get_spark
    from .streaming.runner import StreamRunner

    try:
        if args.spec:
            with open(args.spec) as fh:
                spec = spec_from_json(fh.read(), target_root=args.target_root)
            is_backfill, backfill_id = args.backfill, args.backfill_id
        else:
            spec, is_backfill, backfill_id = spec_from_env()
            if args.backfill:
                is_backfill = True
    except (ValueError, KeyError) as e:
        print(f"invalid stream spec: {e}", file=sys.stderr)
        return 1  # fatal: a restart re-reads the same spec

    if args.set_state:
        # control-plane-only path: touch the state file a running stream
        # polls each tick; no SparkSession
        import os

        path = os.path.join(spec.target_root, "_meta", "arcane_state")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(args.set_state)
        os.replace(tmp, path)  # atomic on POSIX
        print(f"desired state -> {args.set_state} ({path})")
        return 0

    spark = get_spark(f"synapse-link-{spec.entity_name}")
    runner = StreamRunner(spark, spec)
    try:
        # B12 startup sweep: drop staging left by dead runs, keeping the
        # backfill id we are about to resume
        runner.sweep_staging(keep_backfill_id=backfill_id if is_backfill else None)
        if is_backfill:
            if backfill_id:
                runner.backfill_sharded(backfill_id)
            else:
                runner.backfill()
        else:
            runner.run(max_ticks=args.max_ticks)
    except FatalError as e:
        print(f"stream failed (fatal): {e}", file=sys.stderr)
        return 1  # fatal: the same data fails the same way after a restart
    except Exception as e:  # noqa: BLE001
        print(f"stream failed: {e}", file=sys.stderr)
        return 2  # retryable by the reference's podFailurePolicy contract
    return 0


if __name__ == "__main__":
    sys.exit(main())
