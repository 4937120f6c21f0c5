"""Pub/Sub-shaped streaming source + sink on the Python DataSource API.

Re-expresses the reference connector's machinery (SURVEY.md §2.1
S1-S19) Spark-first:

  options.py     option declarations and validation, plus the planning
                 constants and helpers (calculate_partitions, region_split)
  broker.py      broker abstraction: file-backed fake (cross-process;
                 each topic a directory of immutable Arrow IPC
                 segments named by seq range and a head.json, the
                 one commit point) + real-client stub
                 gated behind an import-try
  registry.py    single-consumer stream guard (S12)
  datasource.py  the DataSource / stream reader / stream writer (the
                 rest, including backlog-driven partition planning S6/S13)
"""

from .datasource import (  # noqa: F401
    PUBSUB_READ_SCHEMA,
    PUBSUB_WRITE_SCHEMA,
    PubsubDataSource,
    register_pubsub,
)
