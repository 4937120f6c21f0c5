"""Self-tests for the benchmark: ``python3 -m pytest perfbench -q``.

They need no Spark session: the generator, the relay checker, the span
arithmetic and the result line are checked directly.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
from spark_sql_pubsub_connector_spark.sources.broker import PubsubMessage  # noqa: E402


def test_generator_is_a_function_of_the_seed():
    a, b = gen.messages(7, 2500), gen.messages(7, 2500)
    assert a == b
    assert a != gen.messages(8, 2500)
    # any id range regenerates the same bytes as the full sequence
    assert gen.messages(7, 300, first_id=1900) == a[1900:2200]


def test_generator_shapes():
    msgs = gen.messages(3, 5000)
    sizes = sorted(len(d) for d, _, _ in msgs)
    assert 200 <= sizes[len(sizes) // 2] <= 300
    assert sizes[-1] <= gen.SIZE_CAP_B
    assert all(1 <= len(a) <= 3 and a["id"] == str(i) for i, (_, a, _) in enumerate(msgs))
    keys = [k for _, _, k in msgs]
    assert all(0 <= int(k[1:]) < gen.N_KEYS for k in keys)
    # Zipf: the most common key is far above the uniform share
    assert max(keys.count(k) for k in set(keys)) > 20 * len(keys) / gen.N_KEYS


def _seen(seed: int, n: int) -> list:
    return [
        (time.time(), PubsubMessage(data=d, attributes=a, ordering_key=k))
        for d, a, k in gen.messages(seed, n)
    ]


def test_relay_checker_accepts_exact_output():
    check = run.check_relay(_seen(5, 100), 5, 100)
    assert check["ok"] and check["duplicates"] == 0


def test_relay_checker_flags_a_dropped_message():
    seen = _seen(5, 100)
    del seen[42]
    check = run.check_relay(seen, 5, 100)
    assert not check["ok"] and check["missing"] == 1


def test_relay_checker_counts_a_duplicate():
    seen = _seen(5, 100)
    seen.append(seen[17])
    check = run.check_relay(seen, 5, 100)
    assert check["ok"] and check["duplicates"] == 1


def test_relay_checker_flags_corrupt_data():
    seen = _seen(5, 100)
    t, m = seen[3]
    seen[3] = (t, PubsubMessage(data=m.data[:-1] + b"?", attributes=m.attributes,
                                ordering_key=m.ordering_key))
    check = run.check_relay(seen, 5, 100)
    assert not check["ok"] and check["corrupt"] == 1


def test_self_time_subtracts_the_union_of_overlapping_children():
    tr = tracing.Tracer()
    tr.spans = [
        ("parent", 0.0, 10.0, None),
        ("child", 1.0, 4.0, 0),
        ("child", 2.0, 5.0, 0),  # overlaps the first child
        ("child", 8.0, 9.0, 0),
    ]
    t = tracing.layer_table(tr)
    assert t["parent.self_s"] == 10.0 - 5.0
    assert t["child.calls"] == 3 and t["child.s"] == 7.0
    assert t["child.wait_s"] == 7.0 - 5.0


def test_printed_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for units, declared in ((run.END_TO_END, bench["end_to_end"]),
                            (run.PER_LAYER, bench["per_layer"])):
        line = run.result_line(True, 1, 0, {k: 1.0 for k in units}, units)
        assert {k: v["unit"] for k, v in line["metrics"].items()} == {
            m["name"]: m["unit"] for m in declared
        }
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)
