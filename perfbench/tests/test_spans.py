from perfbench.spans import Tracer, self_times


def _span(sid, parent, start, end, name="x"):
    return {"id": sid, "op": "o", "parent": parent, "name": name,
            "start": start, "end": end}


def test_self_time_subtracts_union_of_children_clipped_to_parent():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 3.0),
        _span(2, 0, 2.0, 5.0),   # overlaps span 1: covered once
        _span(3, 0, 8.0, 12.0),  # runs past its parent: clipped at 10
        _span(4, 1, 1.5, 2.5),
    ]
    st = self_times(spans)
    assert st[0] == 10.0 - (4.0 + 2.0)
    assert st[1] == 2.0 - 1.0
    assert st[2] == 3.0
    assert st[3] == 4.0
    assert st[4] == 1.0


def test_self_times_of_nested_spans_sum_to_root_wall():
    tr = Tracer(enabled=True)
    with tr.span("root", op="a"):
        with tr.span("child"):
            with tr.span("grandchild"):
                pass
        with tr.span("child"):
            pass
    root = tr.spans[0]
    assert abs(sum(self_times(tr.spans).values())
               - (root["end"] - root["start"])) < 1e-9
    assert [s["parent"] for s in tr.spans] == [None, 0, 1, 0]
    assert {s["op"] for s in tr.spans} == {"a"}


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("root", op="a") as rec:
        assert rec is None
    assert tr.spans == [] and tr.overhead_s == 0.0
