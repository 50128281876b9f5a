"""The generator is a pure function of the seed."""

import filecmp

import gen


def small():
    p = gen.load_params()
    p["dashboard"]["events_rows"] = 3000
    return p


def test_events_byte_identical_per_seed(tmp_path):
    p = small()["dashboard"]
    a = gen.write_events(7, p, str(tmp_path / "a"))
    b = gen.write_events(7, p, str(tmp_path / "b"))
    c = gen.write_events(8, p, str(tmp_path / "c"))
    assert filecmp.cmp(a, b, shallow=False)
    assert not filecmp.cmp(a, c, shallow=False)


def test_requests_and_quotes_repeat_per_seed():
    p = small()
    assert gen.dashboard_requests(5, p["dashboard"], 0, 50) == gen.dashboard_requests(5, p["dashboard"], 0, 50)
    assert gen.dashboard_requests(5, p["dashboard"], 0, 50) != gen.dashboard_requests(5, p["dashboard"], 1, 50)
    a, b = gen.QuoteStream(5, p["ingest_merge"]), gen.QuoteStream(5, p["ingest_merge"])
    for i in range(5):
        assert a.batch(i) == b.batch(i)


def test_quote_batches_never_repeat_a_key():
    s = gen.QuoteStream(9, gen.load_params()["ingest_merge"])
    updates = 0
    for i in range(20):
        earlier = set(s.keys)
        keys = [r[:3] for r in s.batch(i)["rows"]]
        assert len(keys) == len(set(keys))
        updates += sum(1 for k in keys if k in earlier)
    assert updates > 0
