"""The change-stream generator and its plain-Python fold."""

import json

from perfbench import datagen
from perfbench.datagen import OTHER_TABLE, TABLE, StreamShape, change_stream, expected_state


def _env(op, after, table=TABLE):
    return datagen._envelope(op, after, table)


def _row(k, amount, tier="t1"):
    return {"id": k, "amount": amount, "tier": tier}


def test_fold_applies_creates_updates_and_deletes_in_seq_order():
    seg = [
        (10, "1", _env("c", _row(1, 5))),
        (11, "2", _env("c", _row(2, 6))),
        (12, "1", _env("u", _row(1, 7, "t3"))),
        (13, "2", _env("d", None)),
        (14, "3", _env("d", None)),  # delete of an unseen key: no-op
    ]
    assert expected_state([seg]) == {1: (7, "t3", 12)}


def test_fold_spans_segments_and_reinserts_after_delete():
    s1 = [(10, "4", _env("c", _row(4, 1))), (11, "4", _env("d", None))]
    s2 = [(12, "4", _env("c", _row(4, 2)))]
    assert expected_state([s1]) == {}
    assert expected_state([s1, s2]) == {4: (2, "t1", 12)}


def test_fold_treats_snapshot_reads_as_upserts():
    seg = [(10, "2", _env("r", _row(2, 3))), (11, "2", _env("r", _row(2, 4, "t2")))]
    assert expected_state([seg]) == {2: (4, "t2", 11)}


def test_fold_ignores_noise_and_other_tables():
    ddl = json.dumps({"payload": {"ddl": "ALTER TABLE x", "source": {"db": "appdb", "table": TABLE}}})
    seg = [
        (10, "5", _env("c", _row(5, 1))),
        (11, "5", None),  # tombstone
        (12, "5", ddl),
        (13, "5", '{"noPayload":true}'),
        (14, "5", _env("m", {})),
        (15, "5", _env("d", None, OTHER_TABLE)),
        (16, "6", _env("c", _row(6, 9), OTHER_TABLE)),
    ]
    assert expected_state([seg]) == {5: (1, "t1", 10)}


def test_fold_starts_from_a_copy_of_the_given_state():
    start = {1: (0, "t0", 1), 2: (0, "t0", 2)}
    seg = [(10, "1", _env("d", None)), (11, "3", _env("c", _row(3, 4)))]
    assert expected_state([seg], start) == {2: (0, "t0", 2), 3: (4, "t1", 11)}
    assert start == {1: (0, "t0", 1), 2: (0, "t0", 2)}


def test_stream_is_deterministic_in_the_seed():
    shape = StreamShape(keys=50, events_per_step=200)
    a = list(change_stream(7, 3, shape))
    b = list(change_stream(7, 3, shape))
    c = list(change_stream(8, 3, shape))
    assert a == b
    assert a != c


def test_stream_shape_seq_ops_and_noise():
    shape = StreamShape(keys=100, events_per_step=2000)
    segs = list(change_stream(3, 2, shape))
    seqs = [s for seg in segs for s, _, _ in seg]
    assert seqs == sorted(seqs) and len(set(seqs)) == len(seqs)
    assert seqs[0] == shape.keys
    ops, noise = [], {"tombstone": [], "ddl": [], "malformed": [], "non_row": []}
    for seg in segs:
        for _, key, value in seg:
            assert 0 <= int(key) < shape.keys
            p = json.loads(value).get("payload") if value else None
            if p is None:
                noise["malformed" if value else "tombstone"].append(len(ops) - 1)
            elif "ddl" in p:
                noise["ddl"].append(len(ops) - 1)
            elif p["op"] == "m":
                noise["non_row"].append(len(ops) - 1)
            else:
                ops.append(p["op"])
                assert p["source"]["table"] == (TABLE if int(key) % 2 == 0 else OTHER_TABLE)
    assert len(ops) == 2 * shape.events_per_step
    for op, share in datagen.OP_SHARES:
        assert abs(ops.count(op) / len(ops) - share) < 0.03
    # one noise row after every event whose index is a multiple of the
    # FIXTURES.md §3 period
    for kind, every in datagen.NOISE_EVERY.items():
        assert noise[kind] == list(range(0, len(ops), every))


def test_fold_matches_a_replay_through_the_envelope_rules():
    shape = StreamShape(keys=30, events_per_step=300)
    segs = list(change_stream(11, 2, shape))
    state = expected_state(segs)
    assert state == expected_state(segs[1:], expected_state(segs[:1]))
    for k, (amount, tier, seq) in state.items():
        last = [
            (s, json.loads(v)["payload"]) for seg in segs for s, key, v in seg
            if v and key == str(k) and '"op":"' in v and f'"table":"{TABLE}"' in v
            and json.loads(v)["payload"]["op"] in datagen.ROW_OPS
        ][-1]
        assert last[0] == seq and last[1]["after"]["amount"] == amount


def test_tables_have_fixed_sizes_and_vary_with_the_seed():
    a = datagen.make_tables(1, 0.001)
    b = datagen.make_tables(2, 0.001)
    assert {n: t.num_rows for n, t in a.items()} == {n: t.num_rows for n, t in b.items()}
    assert a["lineitem"].num_rows == 6000
    assert a["lineitem"] != b["lineitem"]
    assert datagen.make_tables(1, 0.001)["orders"] == a["orders"]
