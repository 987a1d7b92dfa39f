"""Seeded input generator for the lakehouse benchmark.

Writes Maxwell-style CDC and browse-log JSON drops (the FIXTURES.md section 1
shapes), the bootstrap dimension tables and a manifest that tells the
harness when each drop is due.  Everything is a pure function of the seed
and the workload shape, so two runs with the same arguments write
byte-identical inputs; the manifest also records what was emitted, so the
harness can check the pipeline's row counts against it.

Key choices (see README.md):
  * users and products are Zipf-skewed over the sf0.1 `customer` (15000)
    and `part` (20000) key ranges;
  * 2% of login and browse records carry no user id (dropped at DWD) and
    about 10% of all records are dropped at ODS (`otherlog`, `otherdb`);
  * dimension updates are interleaved with the facts, in a CDC file of
    their own per drop; they restate the current row, so enrichment does
    not depend on when an update lands and the streamed tables must equal
    a batch run over the same drops.  They touch the two product dims
    only (see README.md, "Known defect");
  * category names are non-ASCII;
  * on the trickle workload 5% of browse events are released late, up to
    `late_max_ms` after their creation, which stays inside the DM stage's
    30 s watermark once scaled by `speed`;
  * each event's creation offset (ms after the schedule start) rides in
    `browseProductUrl`, which passes through to DWS unchanged.
"""

import bisect
import json
import os
import random

CUSTOMERS = 15000          # sf0.1 customer keys
PARTS = 20000              # sf0.1 part keys
ZIPF_S = 1.1
EVENT_BASE_MS = 1_700_000_000_000  # event-time origin (2023-11-14 22:13:20 UTC)
NULL_USER = 0.02
ODS_DROP = 0.10
DIM_UPDATE = 0.10
LATE_SHARE = 0.05

FIRST_CATS = ["汽车用品", "家用电器", "手机数码", "服饰鞋包",
              "美妆个护", "食品生鲜", "母婴玩具", "图书音像"]
SECOND_SUFFIX = ["维修保养", "车载电器", "美容清洗", "影音娱乐", "安全自驾",
                 "精品配件", "户外装备", "收纳整理", "礼品定制", "智能设备"]
PROVINCES = ["北京", "上海", "广东", "浙江", "江苏", "四川", "湖北", "山东"]

# drops (None: one per period of the run), browse and CDC records per drop,
# the period between drops' creation, how much faster event time runs than
# creation time (so DM windows close within a run), the largest delay of a
# late event (speed * (late + period) + 1 s stays below the 30 s watermark),
# the untimed warm-up waves and their drops, the drops of a backlog wave, and the
# files each input source admits per micro-batch (0: all available) -- a
# backlog is split so the stages pipeline it instead of taking it in one batch.
SHAPES = {
    "lakehouse_backlog": dict(drops=64, browse=500, cdc=125, period_ms=250, speed=120,
                              late_max_ms=0, warmup_waves=1, warmup_wave_drops=8, wave_drops=8,
                              max_files_per_trigger=4),
    "lakehouse_trickle": dict(drops=None, browse=70, cdc=15, period_ms=500, speed=40,
                              late_max_ms=100, warmup_waves=1, warmup_wave_drops=4, wave_drops=8,
                              max_files_per_trigger=0),
}

DIM_CONFIG = [
    # tbl_db, tbl_name, phoenix_tbl_name, pk_col, cols
    ["lakehousedb", "mc_product_info", "DIM_PRODUCT_INFO", "product_id", "product_name"],
    ["lakehousedb", "mc_product_category", "DIM_PRODUCT_CATEGORY", "id", "p_id,name"],
    ["lakehousedb", "mc_member_info", "DIM_MEMBER_INFO", "user_id",
     "member_level,member_points,balance,member_growth_score"],
    ["lakehousedb", "mc_member_address", "DIM_MEMBER_ADDRESS", "user_id", "province,city,area"],
]


class Zipf:
    """Draws keys 1..n with P(k) proportional to k^-s."""

    def __init__(self, n, s):
        acc, cdf = 0.0, []
        for k in range(1, n + 1):
            acc += k ** -s
            cdf.append(acc)
        self.cdf = [c / acc for c in cdf]

    def draw(self, rng):
        return min(bisect.bisect_left(self.cdf, rng.random()), len(self.cdf) - 1) + 1


def category_rows():
    rows = [{"id": str(i + 1), "p_id": "0", "name": n} for i, n in enumerate(FIRST_CATS)]
    for i, first in enumerate(FIRST_CATS):
        for j, suffix in enumerate(SECOND_SUFFIX):
            rows.append({"id": str(100 + 10 * i + j), "p_id": str(i + 1),
                         "name": f"{first}-{suffix}"})
    return rows


def product_code(p):
    return f"P{p:05d}"


def product_row(p):
    return {"product_id": product_code(p), "product_name": f"商品{p:05d}"}


def product_category(p):
    """Second-level category id of product p."""
    k = (p * 7919) % (len(FIRST_CATS) * len(SECOND_SUFFIX))
    return str(100 + 10 * (k // len(SECOND_SUFFIX)) + k % len(SECOND_SUFFIX))


def member_row(u):
    return {"user_id": f"uid{u}", "member_level": str(1 + u % 5),
            "member_points": str((u * 37) % 10000), "balance": str((u * 101) % 50000),
            "member_growth_score": str((u * 13) % 5000)}


def address_row(u):
    prov = PROVINCES[u % len(PROVINCES)]
    return {"user_id": f"uid{u}", "province": prov, "city": f"{prov}市",
            "area": f"第{u % 17}区"}


def dim_tables():
    return {
        "DIM_PRODUCT_INFO": [product_row(p) for p in range(1, PARTS + 1)],
        "DIM_PRODUCT_CATEGORY": category_rows(),
        "DIM_MEMBER_INFO": [member_row(u) for u in range(1, CUSTOMERS + 1)],
        "DIM_MEMBER_ADDRESS": [address_row(u) for u in range(1, CUSTOMERS + 1)],
    }


def shape(workload, seconds):
    s = dict(SHAPES[workload])
    if s["drops"] is None:
        s["drops"] = s["warmup_waves"] * s["warmup_wave_drops"] + int(seconds * 1000 // s["period_ms"])
    return s


def generate(workload, seed, seconds, out_dir):
    """Write one workload's inputs under out_dir; return the manifest."""
    if workload not in SHAPES:
        raise ValueError(f"unknown workload {workload!r}")
    rng = random.Random(f"{workload}:{seed}")
    users, parts = Zipf(CUSTOMERS, ZIPF_S), Zipf(PARTS, ZIPF_S)
    cats = category_rows()
    sh = shape(workload, seconds)
    period, n_drops = sh["period_ms"], sh["drops"]
    speed, late_max_ms = sh["speed"], sh["late_max_ms"]

    logs = [[] for _ in range(n_drops)]
    max_event = [0] * n_drops  # latest event time reaching DWS, per release drop
    # rows each release drop adds to ODS and DWS tables
    per_drop = [dict(browse_ods=0, browse_dws=0, login_ods=0, login_dws=0) for _ in range(n_drops)]
    cdcs = [[] for _ in range(n_drops)]
    dims = [[] for _ in range(n_drops)]  # dim-update CDC records
    exp = dict(browse_in=0, browse_ods=0, browse_dws=0, login_ods=0, login_dws=0,
               dim_updates=0, late=0, log_dropped=0, cdc_dropped=0)
    event_id = 0
    for d in range(n_drops):
        for i in range(sh["browse"]):
            created = d * period + (i * period) // sh["browse"]
            exp["browse_in"] += 1
            if rng.random() < ODS_DROP:
                logs[d].append({"logtype": "otherlog",
                                "data": {"userId": f"uid{users.draw(rng)}", "action": "click"}})
                exp["log_dropped"] += 1
                continue
            event_id += 1
            p = parts.draw(rng)
            data = {"logTime": str(EVENT_BASE_MS + created * speed),
                    "userIp": f"10.{rng.randrange(256)}.{rng.randrange(256)}.{rng.randrange(256)}",
                    "obtainPoints": str(rng.randint(1, 50)),
                    "browseProductCode": product_code(p),
                    "browseProductTpCode": product_category(p),
                    "frontProductUrl": "",
                    "browseProductUrl": f"https://m.lake/p/{product_code(p)}?e={event_id}&c={created}"}
            exp["browse_ods"] += 1
            if rng.random() >= NULL_USER:
                data["userId"] = f"uid{users.draw(rng)}"
                exp["browse_dws"] += 1
            target = d
            if late_max_ms and rng.random() < LATE_SHARE:
                late = rng.randint(1, late_max_ms)
                # first drop due at or after the late release time
                target = min(n_drops - 1, max(d, -(-(created + late) // period) - 1))
                exp["late"] += target != d
            logs[target].append({"logtype": "browselog", "data": data})
            per_drop[target]["browse_ods"] += 1
            per_drop[target]["browse_dws"] += "userId" in data
            if "userId" in data:
                max_event[target] = max(max_event[target], int(data["logTime"]))
        for i in range(sh["cdc"]):
            created = d * period + (i * period) // sh["cdc"]
            ts = str((EVENT_BASE_MS + created * speed) // 1000)
            r = rng.random()
            if r < ODS_DROP:
                cdcs[d].append({"database": "otherdb", "table": "mc_user_login", "type": "insert",
                                "ts": ts, "xid": str(rng.randrange(10 ** 6)), "commit": "true",
                                "data": {"id": "0"}})
                exp["cdc_dropped"] += 1
            elif r < ODS_DROP + DIM_UPDATE:
                if rng.randrange(2) == 0:
                    table, row = "mc_product_info", product_row(parts.draw(rng))
                else:
                    table, row = "mc_product_category", rng.choice(cats)
                dims[d].append({"database": "lakehousedb", "table": table, "type": "update",
                                "ts": ts, "xid": str(rng.randrange(10 ** 6)), "commit": "true",
                                "data": row})
                exp["dim_updates"] += 1
            else:
                login = EVENT_BASE_MS + created * speed
                data = {"id": str(d * sh["cdc"] + i), "ip": f"172.16.{rng.randrange(256)}.{rng.randrange(256)}",
                        "login_tm": str(login), "logout_tm": str(login + rng.randint(60, 7200) * 1000)}
                exp["login_ods"] += 1
                per_drop[d]["login_ods"] += 1
                if rng.random() >= NULL_USER:
                    data["user_id"] = f"uid{users.draw(rng)}"
                    exp["login_dws"] += 1
                    per_drop[d]["login_dws"] += 1
                cdcs[d].append({"database": "lakehousedb", "table": "mc_user_login", "type": "insert",
                                "ts": ts, "xid": str(rng.randrange(10 ** 6)), "commit": "true",
                                "data": data})

    for sub in ("log", "cdc", "dim", "dims"):
        os.makedirs(os.path.join(out_dir, sub), exist_ok=True)
    drops, input_bytes = [], 0
    for d in range(n_drops):
        # a drop is due once the last event it carries has been created
        entry = dict(per_drop[d], due_ms=(d + 1) * period,
                     records=len(logs[d]) + len(cdcs[d]) + len(dims[d]), dim_updates=len(dims[d]),
                     max_event_ms=max_event[d], bytes=0)
        for kind, records in (("log", logs[d]), ("cdc", cdcs[d]), ("dim", dims[d])):
            rel = f"{kind}/drop-{d:05d}.json"
            body = "".join(json.dumps(r, ensure_ascii=False, sort_keys=True) + "\n" for r in records)
            with open(os.path.join(out_dir, rel), "w", encoding="utf-8") as f:
                f.write(body)
            entry["bytes"] += len(body.encode("utf-8"))
            input_bytes += len(body.encode("utf-8"))
            entry[kind] = rel
        drops.append(entry)
    tables = {}
    for name, rows in dim_tables().items():
        rel = f"dims/{name}.json"
        with open(os.path.join(out_dir, rel), "w", encoding="utf-8") as f:
            for r in rows:
                f.write(json.dumps(r, ensure_ascii=False, sort_keys=True) + "\n")
        tables[name] = rel
    exp["input_bytes"] = input_bytes
    manifest = {"workload": workload, "seed": seed, "period_ms": period,
                "warmup_waves": sh["warmup_waves"], "warmup_wave_drops": sh["warmup_wave_drops"],
                "wave_drops": sh["wave_drops"],
                "max_files_per_trigger": sh["max_files_per_trigger"],
                "event_base_ms": EVENT_BASE_MS, "speed": speed,
                "late_max_ms": late_max_ms, "drops": drops, "dims": tables,
                "dim_config": DIM_CONFIG, "expected": exp}
    with open(os.path.join(out_dir, "manifest.json"), "w", encoding="utf-8") as f:
        json.dump(manifest, f, ensure_ascii=False, indent=1, sort_keys=True)
    return manifest
