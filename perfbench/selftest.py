#!/usr/bin/env python3
"""Checker self-test: each workload's checker must accept the expected
output and reject it with one row dropped, one row duplicated, one
value changed and one row leaked that the pipeline should have kept
out (a gated point, a non-member service, a row no query returns).

    python3 perfbench/selftest.py

Needs no build and no JVM; exits non-zero if a checker lets a broken
output through.
"""
import os
import sys

sys.dont_write_bytecode = True
import catalog  # noqa: E402
import etl  # noqa: E402
import run  # noqa: E402
import status  # noqa: E402

FAILURES = []


def expect(name, problems, ok):
    if bool(problems) == ok:
        FAILURES.append(f"{name}: checker {'rejected' if ok else 'accepted'} it")
    print(f"{'ok  ' if bool(problems) != ok else 'FAIL'} {name}")


def etl_cases():
    seed = 7
    docs = [d for d in etl.documents(seed, 0) if d[0] == etl.host_names(seed)[0]]
    hosts = {etl.host_names(seed)[0]}
    want = etl.expected_rows(docs)
    good = sorted(want)
    gated = next((h, svc, t) for h, svc, pts in docs for t, vals in pts
                 if any(etl.convert(v) is None for v in vals))
    h, svc, t = gated
    leak = (etl.family(svc), h, etl.timestamp(t), svc, etl.SERVICE_KEYS[svc][0], 1.0)
    changed = good[0][:5] + (good[0][5] + 0.01,)
    expect("etl_ticks: expected rows", etl.check(good, want, hosts), True)
    expect("etl_ticks: dropped row", etl.check(good[1:], want, hosts), False)
    expect("etl_ticks: duplicated row", etl.check(good + good[:1], want, hosts), False)
    expect("etl_ticks: changed value", etl.check([changed] + good[1:], want, hosts), False)
    expect("etl_ticks: leaked gated point", etl.check(good + [leak], want, hosts), False)
    probe = list(etl.probe_documents())
    # what the engine loads today: the third-decimal 5 rounded up
    half_up = {(f, h, ts, s, k, round(v + 0.01, 2)) for f, h, ts, s, k, v
               in etl.expected_rows(probe)}
    expect("etl_ticks: probe rounded half-up", etl.check(
        sorted(half_up), etl.expected_rows(probe), set(etl.PROBE_HOSTS)), False)


def esc_tag(s):
    for a, b in [("\\", "\\\\"), (",", "\\,"), (" ", "\\ "), ("=", "\\=")]:
        s = s.replace(a, b)
    return s


def line(point):
    """A point rendered as InfluxDB line protocol."""
    tags, fields, t = point
    head = status.MEASUREMENT + "".join(f",{k}={esc_tag(v)}" for k, v in tags)
    fv = ",".join(f'{k}="{v}"' if isinstance(v, str) else f"{k}={v}i"
                  for k, v in fields)
    return f"{head} {fv} {t}"


def status_cases():
    saved = status.HOSTS
    status.HOSTS = 6
    try:
        snap = status.snapshot(7, 0)
    finally:
        status.HOSTS = saved
    want_p, want_a = status.expected(snap)
    members = {(m["host_name"], m["service_description"]) for m in snap[0]}
    outsider = next(r for r in snap[1] if r["last_check"] and
                    (r["host_name"], r["service_description"]) not in members
                    and status.parse_time(r["last_check"]))
    leak_tags = {"host_name": outsider["host_name"],
                 "service_description": outsider["service_description"],
                 "display_name": "unknown", "friendlyname": "unknown",
                 "crownjewel": "no"}
    leak = (tuple(sorted(leak_tags.items())),
            (("service_status", "OK"), ("service_status_numeric", 0)),
            status.parse_time(outsider["last_check"]))
    parsed = [status.parse_line(line(p)) for p in want_p]

    def chk(points, audit=want_a):
        return status.check(points, audit, want_p, want_a)

    tags, fields, t = want_p[0]
    changed = status.parse_line(line(
        (tags, (("service_status", "CRITICAL"), ("service_status_numeric", 2)), t)))
    expect("status_points: expected points and audit", chk(parsed), True)
    expect("status_points: dropped point", chk(parsed[1:]), False)
    expect("status_points: duplicated point", chk(parsed + parsed[:1]), False)
    expect("status_points: changed field", chk([changed] + parsed[1:]), False)
    expect("status_points: leaked non-member point",
           chk(parsed + [status.parse_line(line(leak))]), False)
    expect("status_points: dropped audit row", chk(parsed, want_a[1:]), False)
    expect("status_points: duplicated audit row", chk(parsed, want_a + want_a[:1]), False)
    expect("status_points: changed audit value",
           chk(parsed, [want_a[0][:3] + ("yes" if want_a[0][3] == "no" else "no",)]
               + want_a[1:]), False)
    expect("status_points: leaked non-member audit row",
           chk(parsed, want_a + [(outsider["host_name"],
                                  outsider["service_description"], "unknown", "no")]),
           False)


def catalog_cases():
    import duckdb
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT i AS id, i * 0.5 AS score, "
                "'doc' || i AS name FROM range(20) r(i)")
    d = run.fresh_dir("selftest")
    try:
        saved = catalog.EXPECTED
        catalog.EXPECTED = os.path.join(d, "expected.json")
        try:
            with open(catalog.EXPECTED, "w") as f:
                catalog.json.dump({"q": catalog.digest(con, "SELECT * FROM t")}, f)
            cases = [
                ("expected rows", "SELECT * FROM t ORDER BY id DESC", True),
                ("dropped row", "SELECT * FROM t WHERE id <> 3", False),
                ("duplicated row",
                 "SELECT * FROM t UNION ALL SELECT * FROM t WHERE id = 3", False),
                ("changed value",
                 "SELECT id, CASE WHEN id = 3 THEN score + 1e-9 ELSE score END "
                 "AS score, name FROM t", False),
                ("leaked row",
                 "SELECT * FROM t UNION ALL SELECT 99, 0.5, 'doc99'", False),
            ]
            for name, sql, ok in cases:
                out = os.path.join(d, name.replace(" ", "_"))
                os.makedirs(os.path.join(out, "q"))
                con.execute(f"COPY ({sql}) TO '{out}/q/part.parquet' (FORMAT PARQUET)")
                expect(f"catalog_mix: {name}", catalog.check(out, ["q"]), ok)
        finally:
            catalog.EXPECTED = saved
    finally:
        run.remove(d)


if __name__ == "__main__":
    etl_cases()
    status_cases()
    catalog_cases()
    if FAILURES:
        sys.exit("checker self-test failed:\n" + "\n".join(FAILURES))
