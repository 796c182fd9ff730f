import spans as S


def sp(sid, parent, start, end, name="x.y", req=1, **attrs):
    return S.Span(sid, parent, req, name, start, end, attrs)


def test_self_time_subtracts_children():
    got = S.self_times([sp(1, None, 0, 10), sp(2, 1, 1, 3), sp(3, 1, 5, 9)])
    assert got == {1: 4, 2: 2, 3: 4}


def test_self_time_counts_overlapping_children_once():
    # children on other threads can overlap; their union is 2..8
    got = S.self_times([sp(1, None, 0, 10), sp(2, 1, 2, 6), sp(3, 1, 4, 8)])
    assert got[1] == 4


def test_self_time_clips_children_to_parent():
    got = S.self_times([sp(1, None, 0, 10), sp(2, 1, 8, 14)])
    assert got[1] == 8


def test_tracer_parents_and_request_ids():
    tr = S.Tracer()
    tr.enabled = True
    inner = tr.wrap(lambda: None, "query.kernel.score")
    outer = tr.wrap(lambda: inner(), "query.engine.search")
    outer()
    outer()
    kids = [s for s in tr.spans if s.name == "query.kernel.score"]
    roots = [s for s in tr.spans if s.name == "query.engine.search"]
    assert [k.parent for k in kids] == [r.sid for r in roots]
    assert [k.req for k in kids] == [r.sid for r in roots]
    assert roots[0].req != roots[1].req


def test_disabled_tracer_records_nothing():
    tr = S.Tracer()
    assert tr.wrap(lambda: 7, "a.b")() == 7
    assert tr.spans == []


def test_aggregate_self_share_and_ops():
    spans = [
        sp(1, None, 0.0, 0.010, "server.request", req=1, op="and"),
        sp(2, 1, 0.001, 0.009, "query.engine.search", req=1),
        sp(3, 2, 0.002, 0.006, "query.kernel.score_and", req=1,
           blocks_in=5),
        sp(4, None, 5.0, 6.0, "server.request", req=4, op="and"),
    ]
    out = S.aggregate(spans, windows=[(0.0, 1.0)], bulk_jobs=[])
    assert out["trace.read_requests"] == 1
    assert abs(out["self_pct.server"] - 20.0) < 1e-9
    assert abs(out["self_pct.query.engine"] - 40.0) < 1e-9
    assert abs(out["self_pct.query.kernel"] - 40.0) < 1e-9
    assert abs(out["query.engine.op.and_ms"] - 8.0) < 1e-9
    assert out["query.kernel.blocks_in"] == 5
