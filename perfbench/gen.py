"""Seeded message generation and the open-loop publisher for the relay
workload.

Every byte a workload feeds the connector comes from here and depends
only on the seed: payload sizes are lognormal (median ~250 B, capped at
4 KiB), ordering keys are Zipf over 1,000 keys, and each message has one
to three attributes, the first always its id.

``python3 perfbench/gen.py --broker DIR --topic T --seed N --rate R
--tick S --start-at EPOCH --stop-at EPOCH --out FILE`` runs the relay
generator: one single-threaded process that publishes the messages due
in each tick on a fixed schedule, never waiting for the system under
test, and stamps each message's due time into its ``due_us`` attribute.
When the schedule ends it writes ``{"published": n, "late_max_s": x}``
to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np

N_KEYS = 1_000
ZIPF_S = 1.1
SIZE_MEDIAN_B = 250
SIZE_SIGMA = 0.9
SIZE_CAP_B = 4096
BLOCK = 1_000  # messages drawn together from one random stream
_KEY_CDF = np.cumsum(1.0 / np.arange(1, N_KEYS + 1) ** ZIPF_S)
_KEY_CDF /= _KEY_CDF[-1]


def _block(seed: int, b: int) -> list[tuple[bytes, dict, str]]:
    r = np.random.Generator(np.random.PCG64([seed, b]))
    sizes = np.clip(
        r.lognormal(np.log(SIZE_MEDIAN_B), SIZE_SIGMA, BLOCK), 16, SIZE_CAP_B
    ).astype(np.int64)
    keys = np.minimum(np.searchsorted(_KEY_CDF, r.random(BLOCK)), N_KEYS - 1)
    extra = r.integers(0, 3, BLOCK)
    payload = r.bytes(int(sizes.sum()))
    attr_hex = r.bytes(12 * BLOCK).hex()
    ends = np.cumsum(sizes)
    out = []
    for j in range(BLOCK):
        attrs = {"id": str(b * BLOCK + j)}
        for a in range(int(extra[j])):
            attrs[f"a{a}"] = attr_hex[24 * j + 12 * a : 24 * j + 12 * a + 12]
        out.append((payload[ends[j] - sizes[j] : ends[j]], attrs, f"k{keys[j]}"))
    return out


def messages(seed: int, n: int, first_id: int = 0) -> list[tuple[bytes, dict, str]]:
    """``(data, attributes, ordering_key)`` for ids ``first_id ..
    first_id + n - 1``. Message ``i`` depends only on ``(seed, i)``, so
    any id range can be regenerated to check output bytes."""
    out: list[tuple[bytes, dict, str]] = []
    for b in range(first_id // BLOCK, (first_id + n + BLOCK - 1) // BLOCK):
        out.extend(_block(seed, b))
    lo = first_id - (first_id // BLOCK) * BLOCK
    return out[lo : lo + n]


def pubsub_messages(seed: int, n: int, first_id: int = 0) -> list:
    """``messages`` as the connector's ``PubsubMessage`` objects."""
    from spark_sql_pubsub_connector_spark.sources.broker import PubsubMessage

    return [
        PubsubMessage(data=d, attributes=a, ordering_key=k)
        for d, a, k in messages(seed, n, first_id)
    ]


def publish(broker, topic: str, msgs: list, chunk: int) -> None:
    """Publish as a client batching ``chunk`` messages per call would."""
    for i in range(0, len(msgs), chunk):
        broker.publish(topic, msgs[i : i + chunk])


def run_generator(args) -> None:
    from dataclasses import replace

    from spark_sql_pubsub_connector_spark.sources.broker import FileBroker

    broker = FileBroker(args.broker)
    per_tick = max(1, round(args.rate * args.tick))
    late_max = 0.0
    tick = 0
    next_id = 0
    while True:
        due = args.start_at + tick * args.tick
        if due >= args.stop_at:
            break
        now = time.time()
        if now < due:
            time.sleep(due - now)
            now = time.time()
        late_max = max(late_max, now - due)
        # message j of a tick fell due (per_tick - 1 - j) / rate seconds
        # before the tick fires, so none is published before its due time
        batch = [
            replace(m, attributes={
                **m.attributes,
                "due_us": str(int((due - (per_tick - 1 - j) / args.rate) * 1e6)),
            })
            for j, m in enumerate(pubsub_messages(args.seed, per_tick, next_id))
        ]
        broker.publish(args.topic, batch)
        next_id += per_tick
        tick += 1
    tmp = args.out + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"published": next_id, "late_max_s": late_max}, fh)
    os.replace(tmp, args.out)


def main(argv=None) -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--broker", required=True)
    p.add_argument("--topic", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--rate", type=float, required=True)
    p.add_argument("--tick", type=float, required=True)
    p.add_argument("--start-at", type=float, required=True)
    p.add_argument("--stop-at", type=float, required=True)
    p.add_argument("--out", required=True)
    run_generator(p.parse_args(argv))


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    main()
