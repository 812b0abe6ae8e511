"""Spark Connect serving endpoint — the multi-client SQL surface (SRC17).

The reference serves DuckDB over the Postgres wire protocol through the
Buena Vista proxy (reference dbt/profiles.yml:7-14, Makefile:31-32,
README.md:12): one long-lived engine process, many thin clients. The
Spark-native equivalent is **Spark Connect**: the driver JVM hosts a gRPC
endpoint (the `spark-connect` jar ships inside the pyspark wheel and
shades its own grpc-java — no extra server-side deps), and any client —
`pyspark[connect]`, JDBC-over-Connect, Spark Connect Go/Rust — runs SQL
against the same session, seeing the registered testdata/gold views and
the `QueryService` registry.

Bring-up (one command):

    python -m bread_spark.connect --port 15002 --sf-dir /root/testdata/sf0.01

Clients (need `pip install grpcio grpcio-status googleapis-common-protos`
— i.e. `pyspark[connect]`; absent in this container, so the in-repo test
asserts the endpoint is LISTENING via a socket probe and exercises the
full client round-trip only when grpcio is importable):

    spark = SparkSession.builder.remote("sc://host:15002").getOrCreate()
    spark.sql("SELECT * FROM events LIMIT 5").show()

Caveats vs the BV proxy it replaces: Connect is gRPC, not pg-wire — psql
can't attach, but every Spark client language can, concurrency is native
(no single-writer proxy serialization), and the endpoint shares the
session's AQE/Arrow tuning.
"""

from __future__ import annotations

import socket
import time

from pyspark.sql import SparkSession

from .session import _builder

DEFAULT_PORT = 15002
CONNECT_PLUGIN = "org.apache.spark.sql.connect.SparkConnectPlugin"


def start_connect_session(
    port: int = DEFAULT_PORT, sf_dir: str | None = None
) -> SparkSession:
    """A normal local SparkSession whose driver JVM also hosts the Connect
    gRPC endpoint. Plugins load at JVM launch, so this must create the
    FIRST session of the process (getOrCreate on an existing session
    cannot add the plugin — the CLI entry point owns its process)."""
    spark = (
        _builder("bread-spark-connect")
        .config("spark.plugins", CONNECT_PLUGIN)
        .config("spark.connect.grpc.binding.port", str(port))
        .getOrCreate()
    )
    if sf_dir is not None:
        from .io import register_views

        register_views(spark, sf_dir)
    return spark


def wait_listening(port: int) -> bool:
    """Poll for up to 60 s until the local endpoint accepts TCP
    connections (readiness probe)."""
    deadline = time.monotonic() + 60.0
    while time.monotonic() < deadline:
        try:
            with socket.create_connection(("127.0.0.1", port), timeout=2):
                return True
        except OSError:
            time.sleep(0.25)
    return False


def connect_client(port: int = DEFAULT_PORT) -> SparkSession:
    """Client session over Connect to the local endpoint. Requires the
    grpcio stack (`pip install 'pyspark[connect]'`)."""
    try:
        import grpc  # noqa: F401
    except ImportError as e:  # pragma: no cover - exercised only sans grpcio
        raise RuntimeError(
            "Spark Connect clients need grpcio (pip install 'pyspark[connect]'); "
            "the SERVER side has no such dependency — it is already running"
        ) from e
    return SparkSession.builder.remote(f"sc://localhost:{port}").getOrCreate()


def main(argv: list[str] | None = None) -> int:
    import argparse

    p = argparse.ArgumentParser(description="Serve bread-spark over Spark Connect")
    p.add_argument("--port", type=int, default=DEFAULT_PORT)
    p.add_argument("--sf-dir", default=None, help="testdata dir to register as views")
    p.add_argument(
        "--ready-file",
        default=None,
        help="touch this file once the endpoint is listening (for supervisors/tests)",
    )
    args = p.parse_args(argv)

    spark = start_connect_session(port=args.port, sf_dir=args.sf_dir)
    if not wait_listening(args.port):
        print(f"connect endpoint did not come up on :{args.port}", flush=True)
        return 1
    print(f"spark-connect listening on sc://0.0.0.0:{args.port}", flush=True)
    if args.ready_file:
        with open(args.ready_file, "w") as f:
            f.write(str(args.port))
    try:
        while True:  # serve until interrupted
            time.sleep(3600)
    except KeyboardInterrupt:
        pass
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
