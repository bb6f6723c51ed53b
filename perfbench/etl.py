"""etl_ticks inputs and checker.

Each tick lands one rrdexport response document per (host, registry
service): a 25 h window at a 5 min step that ends one hour after the
previous tick's window, as a cron job re-exporting `extract.py`'s
lookback would see it. Values are written as rrdtool renders them
(`4.1370000000e+01`); a few per cent are `NaN` or unparseable, which
the completeness gate must drop.

The expected sink is computed here by the reference rules, apart from
the program: `extract.py:53-61` (parse, NaN or unparseable -> None,
`float(f"{v:.2f}")`), `:64-67` (epoch -> `%Y-%m-%d %H:%M:%S`, UTC as the
engine pins it), `:86-99` (positional zip onto the service's keys, drop
the row if any value is None), `:115-132` (a row already loaded is not
loaded again) and `load_to_db.py:34-48` (family by substring).
"""
import functools
import json
import os
import time

# extract.py:37-48, in registry order
SERVICE_KEYS = {
    "Memory Usage": ["memory_available_GiB", "memory_total_GiB",
                     "memory_used_percent", "memory_free_GiB",
                     "memory_used_GiB"],
    "Swap Usage": ["swap_used_GiB", "swap_total_GiB", "swap_free_GiB"],
    "Disk Usage root": ["Used_Gib", "Free_GiB", "Total_GiB"],
    "Disk Usage tmp": ["Used_Gib", "Free_GiB", "Total_GiB"],
    "Disk Usage apps": ["Used_Gib", "Free_GiB", "Total_GiB"],
    "Disk Usage boot": ["Used_Gib", "Free_GiB", "Total_GiB"],
    "Disk Usage opt": ["Used_Gib", "Free_GiB", "Total_GiB"],
    "Disk Usage var": ["Used_Gib", "Free_GiB", "Total_GiB"],
    "Disk Usage home": ["Used_Gib", "Free_Gib", "Total_GiB"],
    "CPU Usage": ["percent_used"],
}
FAMILIES = ["cpu", "mem", "disk", "swap"]  # load_to_db.py:34-36

# Sizes and shares. The window, step and cadence are the reference's;
# the host count and the invalid-point shares are those of the
# program's own ETL corpus (`q_etl_job` and `q_metrics_etl` run 25
# hosts; its synthetic responses put a NaN in every 97th CPU point and
# "garbage" in every 89th Swap point, SparkEntry.scala:520-534), not
# figures measured on a deployment. TICKS is chosen for run time.
HOSTS = 25                # hosts in the main ticks
TICKS = 5                 # main ticks per round, after the seeded tick 0
STEP = 300                # rrdexport resolution, seconds
WINDOW = 25 * 3600        # extract.py:28-31 lookback
TICK = 3600               # cron cadence: one hour of new points per tick
T0 = 1723420800           # end of the first tick's window (a fixed epoch)
NAN_PER_MILLE = 10        # points with one value "NaN" (about 1/97)
BAD_PER_MILLE = 11        # points with one unparseable value (about 1/89)
BAD_VALUES = ["", "garbage", "-", "n/a", "1.2.3"]

# The rounding probe: values with a 5 in the third decimal, on hosts of
# their own, in one extra tick that does not depend on the seed.
PROBE_HOSTS = ["probe-a", "probe-b"]
PROBE_VALUES = [2.675, 1.005, 0.125]

MASK = (1 << 64) - 1


def mix(*parts):
    """splitmix64 over the parts: a fixed function of its arguments."""
    h = 0x9E3779B97F4A7C15
    for p in parts:
        h = (h ^ p) & MASK
        h = (h * 0xBF58476D1CE4E5B9) & MASK
        h ^= h >> 27
        h = (h * 0x94D049BB133111EB) & MASK
        h ^= h >> 31
    return h


def rrd(v):
    """A value as rrdtool's JSON export renders it."""
    return "%.10e" % v


def host_names(seed):
    return ["node%02d-%04d" % (seed % 100, i) for i in range(HOSTS)]


def tick_points(k):
    """Epochs of tick k's window, oldest first."""
    end = T0 + k * TICK
    return range(end - WINDOW + STEP, end + 1, STEP)


@functools.lru_cache(maxsize=None)
def main_doc_values(seed, hi, si, t, n):
    """The rendered values of one point: two-decimal numbers, with a
    NaN or an unparseable string in a few points. Successive ticks
    re-export the same points, so they are computed once."""
    vals = [rrd(mix(seed, hi, si, t, j) % 100000 / 100) for j in range(n)]
    u = mix(seed, hi, si, t, 99) % 1000
    j = mix(seed, hi, si, t, 98) % n
    if u < NAN_PER_MILLE:
        vals[j] = "NaN"
    elif u < NAN_PER_MILLE + BAD_PER_MILLE:
        vals[j] = BAD_VALUES[u % len(BAD_VALUES)]
    return tuple(vals)


def documents(seed, k):
    """Tick k's landed documents: (host, service, [(t, [values])])."""
    services = list(SERVICE_KEYS)
    for hi, host in enumerate(host_names(seed)):
        for si, svc in enumerate(services):
            n = len(SERVICE_KEYS[svc])
            yield host, svc, [(t, list(main_doc_values(seed, hi, si, t, n)))
                              for t in tick_points(k)]


def probe_documents():
    """The probe tick: one point per probe value and service."""
    for host in PROBE_HOSTS:
        for svc, keys in SERVICE_KEYS.items():
            yield host, svc, [
                (T0 + i * STEP, [rrd(v)] * len(keys))
                for i, v in enumerate(PROBE_VALUES)]


def stage(docs, path):
    """Write one tick's documents as JSON lines, one response document
    per line. Single-metric services get a bare string `v`, the others
    a list (extract.py:87-93)."""
    with open(path, "w") as f:
        for host, svc, pts in docs:
            single = len(SERVICE_KEYS[svc]) == 1
            rows = [{"t": str(t), "v": vals[0] if single else vals}
                    for t, vals in pts]
            body = json.dumps({"data": {"row": rows}})
            f.write(json.dumps({"host_name": host, "service_name": svc,
                                "body": body}) + "\n")


@functools.lru_cache(maxsize=None)
def convert(s):
    """extract.py:53-61."""
    try:
        v = float(s)
    except ValueError:
        return None
    if v != v:
        return None
    return float(f"{v:.2f}")


@functools.lru_cache(maxsize=None)
def timestamp(t):
    """extract.py:64-67, in UTC as the engine pins it."""
    return time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(t))


def family(service):
    low = service.lower()
    return next((f for f in FAMILIES if f in low), None)


def expected_rows(docs):
    """The distinct (family, host, timestamp, service, metric, value)
    rows the reference would load from these documents."""
    out = set()
    for host, svc, pts in docs:
        keys = SERVICE_KEYS[svc]
        fam = family(svc)
        for t, vals in pts:
            conv = [convert(v) for v in vals]
            if any(v is None for v in conv):
                continue
            ts = timestamp(t)
            for key, v in zip(keys, conv):
                out.add((fam, host, ts, svc, key, v))
    return out


def melted_count(docs):
    return len([1 for _, svc, pts in docs for _, vals in pts
                if all(convert(v) is not None for v in vals)
                for _ in SERVICE_KEYS[svc]])


def seed_sink(docs, data_dir):
    """Write the rows the reference loads from `docs` into the sink, in
    the job's layout (partitioned by metric_family and today's UTC
    load_date), as the previous tick would have left it. Returns them."""
    import duckdb
    import pyarrow
    rows = expected_rows(docs)
    os.makedirs(os.path.dirname(data_dir), exist_ok=True)
    names = ["metric_family", "host_name", "timestamp", "service_name",
             "metric_name", "value"]
    seed = pyarrow.table(dict(zip(names, map(list, zip(*sorted(rows))))))
    con = duckdb.connect()
    con.register("seed", seed)
    today = time.strftime("%Y-%m-%d", time.gmtime())
    con.execute(
        "COPY (SELECT host_name, timestamp, service_name, metric_name, value, "
        f"metric_family, DATE '{today}' AS load_date FROM seed) TO '{data_dir}' "
        "(FORMAT PARQUET, PARTITION_BY (metric_family, load_date))")
    return rows


def read_sink(data_dir):
    """Every row in the sink, as (family, host, timestamp, service,
    metric, value), plus the bytes the sink takes on disk."""
    import duckdb
    con = duckdb.connect()
    rows = con.execute(
        "SELECT metric_family, host_name, timestamp, service_name, "
        "metric_name, value FROM read_parquet(?, hive_partitioning = 1)",
        [os.path.join(data_dir, "**", "*.parquet")]).fetchall()
    size = sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(data_dir) for f in fs)
    return rows, size


def check(rows, expected, hosts):
    """Compare the sink's rows of `hosts` with the expected set: every
    expected row once, no other row. Returns a list of problems."""
    from collections import Counter
    got = Counter(r for r in rows if r[1] in hosts)
    problems = []
    dup = [r for r, n in got.items() if n > 1]
    if dup:
        problems.append(f"{len(dup)} rows loaded more than once, e.g. {dup[0]}")
    missing = expected - set(got)
    if missing:
        problems.append(f"{len(missing)} rows missing, e.g. {min(missing)}")
    extra = set(got) - expected
    if extra:
        problems.append(f"{len(extra)} unexpected rows, e.g. {min(extra)}")
    return problems
