"""Each correctness checker accepts a right answer and rejects a planted
wrong one."""

import copy

import checks
import gen
import pytest


def _params():
    p = gen.load_params()
    p["dashboard"]["events_rows"] = 4000
    return p


@pytest.fixture(scope="module")
def dash(tmp_path_factory):
    p = _params()["dashboard"]
    sf = str(tmp_path_factory.mktemp("sf"))
    gen.write_events(3, p, sf)
    con = checks.duckdb.connect()
    con.execute(f"CREATE VIEW ev AS SELECT * FROM read_parquet('{sf}/events.parquet')")
    reqs = {}
    for r in gen.iter_requests(3, p, 0):
        want = checks.expected_dashboard(con, r)
        if all(want.values()) and r["type"] not in reqs:
            reqs[r["type"]] = (r, want)
        if len(reqs) == 6:
            break
    con.close()
    return sf, reqs


def _mutations(got: dict):
    """Wrong answers: a shifted number or an edited string in the first
    row, a missing row, a reordered page."""
    for part, rows in got.items():
        row = rows[0]
        for ci, v in enumerate(row):
            if isinstance(v, (float, str)) and v == v:
                bad = copy.deepcopy(got)
                wrong = v * 1.01 + 0.01 if isinstance(v, float) else v + "!"
                bad[part][0] = row[:ci] + (wrong,) + row[ci + 1:]
                yield f"{part}: value {ci}", bad
        bad = copy.deepcopy(got)
        bad[part] = rows[:-1]
        yield f"{part}: dropped row", bad
        if part == "page" and len(rows) > 1:
            bad = copy.deepcopy(got)
            bad[part] = [rows[1], rows[0]] + rows[2:]
            yield f"{part}: order", bad


def test_dashboard_checker_accepts_oracle_and_rejects_mutations(dash):
    sf, reqs = dash
    assert set(reqs) == {"prices_page", "latest", "positions", "journal", "ict", "insights"}
    for t, (req, want) in reqs.items():
        assert checks.check_dashboard(sf, [(req, want)]) == [], t
        n = 0
        for what, bad in _mutations(want):
            assert checks.check_dashboard(sf, [(req, bad)]), f"{t} {what} accepted"
            n += 1
        assert n >= 2, t


def test_ingest_checker_rejects_stale_rows_views_and_torn_reads():
    s = gen.QuoteStream(6, gen.load_params()["ingest_merge"])
    o = checks.QuoteOracle()
    for i in range(4):
        o.add_batch(i, s.batch(i)["rows"])
    final, view = o.state(4), o.view(4)
    assert checks.check_ingest(o, final, view, 4, [(2, 4, o.latest(3))]) == []
    stale = [final[0][:3] + (final[0][3] + 1.0, final[0][4])] + final[1:]
    assert checks.check_ingest(o, stale, view, 4, [])
    assert checks.check_ingest(o, final[1:], view, 4, [])
    assert checks.check_ingest(o, final, o.view(3), 4, [])  # view one version behind
    assert checks.check_ingest(o, final, view[1:], 4, [])
    old, new = {r[0]: r for r in o.latest(1)}, {r[0]: r for r in o.latest(4)}
    sym = next(k for k in new if old.get(k) != new[k] and k in old)
    torn = [old[sym] if k == sym else r for k, r in new.items()]
    assert checks.check_ingest(o, final, view, 4, [(4, 4, torn)])
    o.close()
