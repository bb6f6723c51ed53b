"""status_points inputs and checker.

Each poll lands three snapshots, as the reference's status script
fetches them (`url_service_status_InfluxDB_insert.py:49-73`): the
servicegroup's members, every service's status and every service's
details. Some status rows belong to services outside the group; some
have an empty, missing or unparseable `last_check`; some carry an
unknown or missing state. Details come with customvars as a map, as a
list of name/value entries (with repeated names) or not at all, the
two shapes the API returns; the benchmark's source hands them over as
the pipeline's two columns.

The expected points and audit rows are computed here by the
reference's rules (`url...py:54-64,84-133`), apart from the program.
"""
import calendar
import csv
import glob
import json
import os
import time

# Sizes and shares are chosen, not measured on a deployment: neither
# the reference nor the program's corpus gives a poll's size. 3,000
# status rows keep a poll near one second, so a run holds enough polls
# for a steady median; the invalid and non-member shares are set so
# that every branch of the mappings meets a few dozen rows per poll.
HOSTS = 120               # hosts per snapshot
SERVICES = 25             # URL checks per host
SNAPSHOTS = 6             # distinct snapshots, polled in turn: one round
MEASUREMENT = "service_status"
T0 = 1723420800

STATUS_TEXT = {"0": "OK", "1": "WARNING", "2": "CRITICAL", "3": "UNKNOWN"}
STATUS_NUM = {"OK": 0, "WARNING": 1, "CRITICAL": 2, "UNKNOWN": 3}

MASK = (1 << 64) - 1


def mix(*parts):
    h = 0xD1B54A32D192ED03
    for p in parts:
        h = (h ^ p) & MASK
        h = (h * 0xBF58476D1CE4E5B9) & MASK
        h ^= h >> 27
        h = (h * 0x94D049BB133111EB) & MASK
        h ^= h >> 31
    return h


def service_name(j):
    kinds = ["HTTP - shop.example.com/health", "URL: api,v2 status",
             "TLS cert expiry", "Login page", "DNS=resolver check"]
    return f"{kinds[j % len(kinds)]} #{j}"


def snapshot(seed, s):
    """Snapshot s as (members, status, details) row lists."""
    members, status, details = [], [], []
    for hi in range(HOSTS):
        host = f"web{seed % 1000:03d}-{hi:04d}.example.com"
        for j in range(SERVICES):
            svc = service_name(j)
            h = mix(seed, hi, j)
            if h % 100 < 80:
                members.append({"host_name": host,
                                "service_description": svc})
            u = mix(seed, s, hi, j, 1) % 1000
            state = str(u % 4)
            if u < 20:
                state = None
            elif u < 35:
                state = "9"
            v = mix(seed, s, hi, j, 2) % 1000
            epoch = T0 + s * 60 + mix(seed, s, hi, j, 3) % 3600
            last = time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(epoch))
            if v < 25:
                last = ""
            elif v < 40:
                last = None
            elif v < 55:
                last = ["not-a-timestamp", "2024/08/11 19:00:00", "19:00"][v % 3]
            status.append({"host_name": host, "service_description": svc,
                           "current_state": state, "last_check": last})
            w = mix(seed, hi, j, 4) % 100
            if w >= 92:
                continue  # no details for this service
            d = {"host_name": host, "service_description": svc,
                 "display_name": None if w % 7 == 0 else f"{svc} on {host}",
                 "customvars_map": None, "customvars_list": None}
            vars_ = {}
            if w % 3 != 0:
                vars_["FRIENDLYNAME"] = f"friendly {hi}-{j}"
            if w % 4 != 0:
                vars_["CROWNJEWEL"] = "yes" if (hi + j) % 5 == 0 else "no"
            if w < 45:
                d["customvars_map"] = dict(vars_, OWNER="ops")
            elif w < 85:
                entries = [{"name": k, "value": "stale"} for k in vars_]
                entries += [{"name": k, "value": val} for k, val in vars_.items()]
                d["customvars_list"] = entries
            details.append(d)
    return members, status, details


def land(snap, snap_dir):
    os.makedirs(snap_dir)
    for name, rows in zip(["members", "status", "details"], snap):
        with open(os.path.join(snap_dir, name + ".json"), "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")


def parse_time(s):
    """url...py:101-105: strptime or skip."""
    try:
        return calendar.timegm(time.strptime(s, "%Y-%m-%d %H:%M:%S"))
    except ValueError:
        return None


def custom_var(d, key, default):
    """url...py:87-95: map or list of name/value, last entry wins."""
    if d is None:
        return default
    if d["customvars_map"] is not None:
        return d["customvars_map"].get(key, default)
    if d["customvars_list"] is not None:
        found = {e["name"]: e["value"] for e in d["customvars_list"]}
        return found.get(key, default)
    return default


def expected(snap):
    """The points, each (tags, fields, time), and the audit rows."""
    members, status, details = snap
    keys = {(m["host_name"], m["service_description"]) for m in members}
    info = {(d["host_name"], d["service_description"]): d for d in details
            if (d["host_name"], d["service_description"]) in keys}
    points, audit = [], []
    for r in status:
        key = (r["host_name"], r["service_description"])
        if key not in keys or not r["last_check"]:
            continue
        t = parse_time(r["last_check"])
        if t is None:
            continue
        d = info.get(key)
        name = d["display_name"] if d else None
        text = STATUS_TEXT.get(r["current_state"] or "3", "UNKNOWN")
        tags = {"host_name": key[0], "service_description": key[1],
                "display_name": "unknown" if name is None else name,
                "friendlyname": custom_var(d, "FRIENDLYNAME", "unknown"),
                "crownjewel": custom_var(d, "CROWNJEWEL", "no")}
        fields = {"service_status": text,
                  "service_status_numeric": STATUS_NUM.get(text, -1)}
        points.append((tuple(sorted(tags.items())),
                       tuple(sorted(fields.items())), t))
        audit.append((key[0], key[1], tags["friendlyname"], tags["crownjewel"]))
    return points, audit


def _split(s, sep):
    """Split line protocol on unescaped `sep`, outside quotes."""
    parts, cur, i, quoted = [], [], 0, False
    while i < len(s):
        c = s[i]
        if c == "\\" and i + 1 < len(s):
            cur.append(s[i:i + 2])
            i += 2
            continue
        if c == '"':
            quoted = not quoted
        if c == sep and not quoted:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(c)
        i += 1
    parts.append("".join(cur))
    return parts


def _unescape(s):
    out, i = [], 0
    while i < len(s):
        if s[i] == "\\" and i + 1 < len(s):
            out.append({"n": "\n", "r": "\r"}.get(s[i + 1], s[i + 1]))
            i += 2
        else:
            out.append(s[i])
            i += 1
    return "".join(out)


def parse_line(line):
    """One InfluxDB line-protocol point: (measurement, tags, fields, time)."""
    head, fields, ts = _split(line, " ")
    series = _split(head, ",")
    tags = tuple(sorted(
        tuple(_unescape(x) for x in _split(kv, "=")) for kv in series[1:]))
    fv = []
    for kv in _split(fields, ","):
        k, v = _split(kv, "=")
        if v.startswith('"'):
            v = _unescape(v[1:-1])
        elif v.endswith("i"):
            v = int(v[:-1])
        else:
            v = float(v)
        fv.append((_unescape(k), v))
    return _unescape(series[0]), tags, tuple(sorted(fv)), int(ts)


def read_poll(out_dir):
    """The committed points and audit rows of one poll."""
    points = []
    for p in sorted(glob.glob(os.path.join(out_dir, "points", "*.lp"))):
        with open(p, encoding="utf-8") as f:
            points += [parse_line(l.rstrip("\n")) for l in f if l.strip()]
    audit = []
    for p in sorted(glob.glob(os.path.join(out_dir, "audit", "part-*"))):
        with open(p, newline="", encoding="utf-8") as f:
            rows = list(csv.reader(f))
        audit += [tuple(r) for r in rows[1:]]
    return points, audit


def check(got_points, got_audit, exp_points, exp_audit):
    from collections import Counter
    problems = []
    bad_m = [p for p in got_points if p[0] != MEASUREMENT]
    if bad_m:
        problems.append(f"{len(bad_m)} points outside {MEASUREMENT}")
    got = Counter(p[1:] for p in got_points)
    want = Counter(exp_points)
    if got != want:
        miss = want - got
        extra = got - want
        problems.append(f"points: {sum(miss.values())} missing, "
                        f"{sum(extra.values())} unexpected, e.g. "
                        f"{next(iter(miss or extra))}")
    if Counter(got_audit) != Counter(exp_audit):
        miss = Counter(exp_audit) - Counter(got_audit)
        extra = Counter(got_audit) - Counter(exp_audit)
        problems.append(f"audit: {sum(miss.values())} missing, "
                        f"{sum(extra.values())} unexpected, e.g. "
                        f"{next(iter(miss or extra))}")
    return problems
