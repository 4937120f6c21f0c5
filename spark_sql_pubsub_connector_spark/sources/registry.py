"""Single-consumer stream-registry guard (reference S12).

The reference forbids (a) two streams reading one subscription and
(b) splitting one stream into multiple sinks, because ack/cache state
is a per-subscription singleton (PubsubMicroBatchStream.scala:28,
174-180; both failure modes integration-tested,
PubsubConnectorTest.scala:201-291). Both manifest the same way here:
a second live stream reader is created for a subscription that is
already claimed — so one registry keyed on subscription covers both.

The registry is file-based (under the broker dir) so guards hold
across the driver and any Python worker processes, and so a stream
that dies without ``stop()`` can be reclaimed after its entry expires.
"""

from __future__ import annotations

import contextlib
import fcntl
import json
import os
import time

from .broker import _write_atomic

# An entry is considered live while its stream heartbeats (from
# commit/latestOffset, at most every tenth of this). A crashed stream's
# claim expires after this, allowing restart-from-checkpoint to
# reclaim the subscription. The
# reference's per-JVM registry gets this for free (JVM death clears it);
# a file registry needs the TTL.
_STALE_AFTER_S = 300.0


class StreamConflictError(RuntimeError):
    pass


class StreamRegistry:
    def __init__(self, root: str):
        self.path = os.path.join(root, ".stream_registry.json")

    @contextlib.contextmanager
    def _locked_state(self):
        with open(self.path + ".lock", "a+") as lk:
            fcntl.flock(lk, fcntl.LOCK_EX)
            try:
                state = {}
                if os.path.exists(self.path):
                    with open(self.path) as fh:
                        state = json.load(fh)
                yield state
                _write_atomic(self.path, json.dumps(state))
            finally:
                fcntl.flock(lk, fcntl.LOCK_UN)

    def register(self, subscription: str, stream_id: str) -> None:
        with self._locked_state() as state:
            entry = state.get(subscription)
            now = time.time()
            if (
                entry is not None
                and entry["stream_id"] != stream_id
                and now - entry["ts"] < _STALE_AFTER_S
            ):
                raise StreamConflictError(
                    f"subscription '{subscription}' is already consumed by "
                    f"stream {entry['stream_id']}; a subscription supports "
                    "exactly one stream (and a stream cannot be split into "
                    "multiple sinks) — create a second subscription instead"
                )
            state[subscription] = {"stream_id": stream_id, "ts": now}

    def heartbeat(self, subscription: str, stream_id: str) -> None:
        with self._locked_state() as state:
            entry = state.get(subscription)
            if entry is not None and entry["stream_id"] == stream_id:
                entry["ts"] = time.time()

    def unregister(self, subscription: str, stream_id: str) -> None:
        with self._locked_state() as state:
            entry = state.get(subscription)
            if entry is not None and entry["stream_id"] == stream_id:
                del state[subscription]
