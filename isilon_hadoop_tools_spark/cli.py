"""Console entry points (reference ``_scripts.py:20-167`` +
``cli.py:32-96``, console_scripts ``setup.py:34-38``).

The reference ships two console scripts, ``isilon_create_users`` and
``isilon_create_directories``, built from three argparse layers
(``base_cli`` → OneFS/logging groups → per-script args) with a
``catches`` decorator that turns tool errors into log-and-exit-1.
This module keeps the same argument surface over the Spark pipelines
in :mod:`isilon_hadoop_tools_spark.scripts`:

- positional ``state_dir`` stands in for the reference's positional
  ``onefs_address`` (the parquet state root is this engine's "cluster
  address"); it defaults to ``./iht_state`` for local runs.
- ``--zone/-z`` (reference ``cli.py:69-75``) defaults to ``zone1``
  here instead of being required — the Spark engine has no cluster to
  probe, so a safe default beats a hard failure.
- ``--onefs-user`` / ``--onefs-password`` / ``--no-verify`` are
  accepted for drop-in compatibility and ignored (no REST connection
  to authenticate).
- ``--append-cluster-name`` gets the leading ``-`` auto-prepended
  when missing (``_scripts.py:106-109``), ``--dist`` is required with
  the same 3 choices, ``--dry`` logs instead of writing, and the
  users script writes the ``<epoch>-<zone>-<dist>[<suffix>].sh``
  side-output with the reference's exact naming (``_scripts.py:98-111``).

Run as ``python -m isilon_hadoop_tools_spark.cli create-users ...`` or
``... create-directories ...``; with a packaging layer the two
``isilon_create_*`` callables are console_scripts-shaped (argv in,
int out).
"""

from __future__ import annotations

import argparse
import logging
import os
import sys
import time

from isilon_hadoop_tools_spark import IsilonHadoopToolsSparkError

LOGGER = logging.getLogger(__name__)

DRY_RUN = "Had this been for real, this is what would have happened..."


def catches(exception):
    """Decorator: log the given exception type and return exit code 1
    (reference ``cli.py:32-48``)."""

    def decorator(func):
        def decorated(*args, **kwargs):
            try:
                return func(*args, **kwargs)
            except exception as ex:
                logging.error(ex)
                return 1

        return decorated

    return decorator


def state_cli(parser: argparse.ArgumentParser) -> argparse.ArgumentParser:
    """The engine's analog of the reference OneFS group
    (``cli.py:61-98``): where state lives and which zone to target."""
    parser.add_argument(
        "state_dir",
        nargs="?",
        default="./iht_state",
        help="Directory holding the engine's parquet state tables "
        "(the reference's positional onefs_address).",
    )
    parser.add_argument(
        "--zone",
        "-z",
        type=str,
        default="zone1",
        help="Specify an access zone.",
    )
    parser.add_argument(
        "--no-verify",
        default=False,
        action="store_true",
        help="Accepted for reference compatibility; ignored (no TLS).",
    )
    parser.add_argument(
        "--onefs-password",
        type=str,
        help="Accepted for reference compatibility; ignored.",
    )
    parser.add_argument(
        "--onefs-user",
        type=str,
        default="root",
        help="Accepted for reference compatibility; ignored.",
    )
    return parser


def logging_cli(parser: argparse.ArgumentParser) -> argparse.ArgumentParser:
    """Reference ``cli.py:150-175``, argument-identical."""
    parser.add_argument(
        "-q",
        "--quiet",
        default=False,
        action="store_true",
        help="Supress console output.",
    )
    parser.add_argument(
        "--log-file",
        type=str,
        help="Specify a path to log to.",
    )
    parser.add_argument(
        "--log-level",
        help="Specify how verbose logging should be.",
        default="info",
        choices=("debug", "info", "warning", "error", "critical"),
    )
    return parser


def configure_logging(args) -> None:
    """Reference ``cli.py:177-190``."""
    logging.getLogger().setLevel(logging.getLevelName(args.log_level.upper()))
    if not args.quiet:
        console_handler = logging.StreamHandler()
        console_handler.setFormatter(logging.Formatter("[%(levelname)s] %(message)s"))
        logging.getLogger().addHandler(console_handler)
    if args.log_file:
        logfile_handler = logging.FileHandler(args.log_file)
        logfile_handler.setFormatter(
            logging.Formatter("[%(asctime)s] %(name)s [%(levelname)s] %(message)s"),
        )
        logging.getLogger().addHandler(logfile_handler)


def base_cli(parser: argparse.ArgumentParser | None = None) -> argparse.ArgumentParser:
    """Common arguments for both entry points (``_scripts.py:20-47``)."""
    if parser is None:
        parser = argparse.ArgumentParser(
            formatter_class=argparse.ArgumentDefaultsHelpFormatter
        )
    state_cli(parser.add_argument_group("State"))
    logging_cli(parser.add_argument_group("Logging"))
    parser.add_argument(
        "--append-cluster-name",
        help="the cluster name to append on identities",
        type=str,
    )
    parser.add_argument(
        "--dist",
        help="the Hadoop distribution to be deployed",
        choices=("cdh", "cdp", "hdp"),
        required=True,
    )
    parser.add_argument(
        "--dry",
        help="do a dry run (only logs)",
        action="store_true",
        default=False,
    )
    parser.add_argument(
        "--version",
        action="version",
        version="%(prog)s (isilon_hadoop_tools_spark)",
    )
    return parser


def isilon_create_users_cli(
    parser: argparse.ArgumentParser | None = None,
) -> argparse.ArgumentParser:
    """Per-script arguments (``_scripts.py:54-77``)."""
    if parser is None:
        parser = base_cli()
    parser.add_argument(
        "--start-gid",
        help="the lowest GID to create a group with",
        type=int,
        default=1025,
    )
    parser.add_argument(
        "--start-uid",
        help="the lowest UID to create a user with",
        type=int,
        default=1025,
    )
    parser.add_argument(
        "--user-password",
        help="the password for users created (accepted for reference "
        "compatibility; the engine records identities, not secrets)",
        type=str,
        default=None,
    )
    return parser


def isilon_create_directories_cli(
    parser: argparse.ArgumentParser | None = None,
) -> argparse.ArgumentParser:
    """``_scripts.py:134-138`` — no extra args beyond base."""
    if parser is None:
        parser = base_cli()
    return parser


def _script_name(args) -> str:
    """``<epoch>-<zone>-<dist>[<suffix>].sh`` (``_scripts.py:98-111``)."""
    name = "-".join([str(int(time.time())), args.zone, args.dist])
    suffix = args.append_cluster_name
    if suffix is not None:
        if not suffix.startswith("-"):
            suffix = "-" + suffix
        name += suffix
    return name + ".sh"


def _spark_and_state(args):
    from isilon_hadoop_tools_spark.plans.state import ParquetState
    from isilon_hadoop_tools_spark.session import get_session

    spark = get_session("isilon_hadoop_tools_spark.cli")
    return spark, ParquetState(spark, args.state_dir)


@catches(IsilonHadoopToolsSparkError)
def isilon_create_users(argv=None) -> int:
    """Execute isilon_create_users commands (``_scripts.py:80-132``)."""
    from isilon_hadoop_tools_spark import scripts

    if argv is None:
        argv = sys.argv[1:]
    args = isilon_create_users_cli().parse_args(argv)
    configure_logging(args)
    spark, state = _spark_and_state(args)
    script_path = os.path.join(os.getcwd(), _script_name(args))

    if args.dry:
        LOGGER.info(DRY_RUN)
        LOGGER.info("A script would have been created at %s.", script_path)
        LOGGER.info("The following actions would have populated it and the state:")
        stages = scripts.create_users(
            spark,
            state,
            dist=args.dist,
            zone=args.zone,
            append_cluster_name=args.append_cluster_name,
            start_uid=args.start_uid,
            start_gid=args.start_gid,
            dry=True,
        )
        for stage_name, df in stages:
            LOGGER.info("%s: %d rows", stage_name, df.count())
        return 0

    report = scripts.create_users(
        spark,
        state,
        dist=args.dist,
        zone=args.zone,
        append_cluster_name=args.append_cluster_name,
        start_uid=args.start_uid,
        start_gid=args.start_gid,
        script_path=script_path,
    )
    for stage_name, n in report:
        LOGGER.info("%s: %d created", stage_name, n)
    LOGGER.info("Replay script written to %s.", script_path)
    return 0


@catches(IsilonHadoopToolsSparkError)
def isilon_create_directories(argv=None) -> int:
    """Execute isilon_create_directories commands
    (``_scripts.py:141-167``)."""
    from isilon_hadoop_tools_spark import scripts

    if argv is None:
        argv = sys.argv[1:]
    args = isilon_create_directories_cli().parse_args(argv)
    configure_logging(args)
    spark, state = _spark_and_state(args)

    if args.dry:
        LOGGER.info(DRY_RUN)
        stages = scripts.create_directories(
            spark,
            state,
            dist=args.dist,
            zone_path=f"/ifs/{args.zone}",
            append_cluster_name=args.append_cluster_name,
            dry=True,
        )
        for stage_name, df in stages:
            LOGGER.info("%s: %d rows", stage_name, df.count())
        return 0

    report = scripts.create_directories(
        spark,
        state,
        dist=args.dist,
        zone_path=f"/ifs/{args.zone}",
        append_cluster_name=args.append_cluster_name,
    )
    for stage_name, n in report:
        LOGGER.info("%s: %d applied", stage_name, n)
    return 0


_COMMANDS = {
    "create-users": isilon_create_users,
    "create-directories": isilon_create_directories,
}


def main(argv=None) -> int:
    """``python -m isilon_hadoop_tools_spark.cli <command> [args]``."""
    if argv is None:
        argv = sys.argv[1:]
    if not argv or argv[0] not in _COMMANDS:
        print(
            "usage: python -m isilon_hadoop_tools_spark.cli "
            f"{{{','.join(_COMMANDS)}}} [options]",
            file=sys.stderr,
        )
        return 2
    return _COMMANDS[argv[0]](argv[1:])


if __name__ == "__main__":
    raise SystemExit(main())
