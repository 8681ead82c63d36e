#!/usr/bin/env python3
"""gmall-shaped replay feeds for the stream_gmall workload.

Usage: python3 perfbench/feeds.py <sf_dir> <out_dir> <seed> <seconds> <scale>

Derives, deterministically from the sf tables and the seed:
  - an `ods_base_log` feed: one JSON log line per `events` row (start
    events for signups, page events with displays and search keywords for
    the rest), in event-time order;
  - an `ods_base_db` CDC feed: order_info / order_detail inserts from
    `orders` / `lineitem` (one order per second of event time, details
    within the ±5 s join window, one in ten 8 s late), a dimension
    snapshot of the referenced users, nations and parts, and
    renames of users in the backlog (name only, so enrichment columns
    stay fixed).
The replayed slice of the tables is fixed; the seed draws the detail
jitter (which details fall outside the join window, and by how much). Sizes come from workloads.json (`scale` shrinks them for smoke
runs). Writes dims / warm_log / warm_db / backlog_log / backlog_db /
live_log / live_db .jsonl and feeds.json ({"ticks": n}).
"""
import datetime
import json
import os
import random
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq

T0 = datetime.datetime(2024, 3, 1)
PAGES = {"view": ("home", None), "click": ("good_list", "home"),
         "purchase": ("trade", "good_list"), "error": ("error", "home")}


def stamp(ms):
    return (T0 + datetime.timedelta(milliseconds=ms)).strftime("%Y-%m-%d %H:%M:%S")


def env(table, op, after):
    body = ",".join(f'"{k}":"{v}"' for k, v in after)
    return (f'{{"database":"gmall","tableName":"{table}","before":{{}},'
            f'"after":{{{body}}},"type":"{op}"}}')


def log_line(eid, ts, uid, etype, k):
    common = (f'{{"mid":"mid_{uid}","uid":"{uid}","is_new":"{1 if eid % 3 == 0 else 0}",'
              f'"ar":"{k % 34}","ch":"{("web", "app", "mini")[k % 3]}","vc":"v{k % 4}",'
              f'"os":"os{k % 2}","md":"m{k % 7}","ba":"b{k % 5}"}}')
    if etype == "signup":
        return (f'{{"common":{common},"start":{{"entry":"icon","open_ad_id":{k},'
                f'"loading_time":{k * 10},"open_ad_ms":{k * 3},"open_ad_skip_ms":0}},"ts":{ts}}}')
    pid, last = PAGES[etype]
    last_j = f'"{last}"' if last else "null"
    item = (f',"item":"kw{k % 20} kw{k % 7}","item_type":"keyword"'
            if etype == "click" else "")
    displays = (f',"displays":[{{"display_type":"promotion","item":"{k % 50}",'
                f'"item_type":"sku_id","order":1,"pos_id":{k % 5}}},'
                f'{{"display_type":"query","item":"{(k + 7) % 50}","item_type":"sku_id",'
                f'"order":2,"pos_id":{k % 3}}}]' if etype == "view" else "")
    return (f'{{"common":{common},"page":{{"page_id":"{pid}","last_page_id":{last_j},'
            f'"during_time":{k * 37}{item}}}{displays},"ts":{ts}}}')


def birthday(c):
    return f"19{60 + c % 40:02d}-0{1 + c % 9}-1{c % 10}"


def user(c, op, name, op_ts):
    return env("user_info", op, [("id", c), ("name", name), ("birthday", birthday(c)),
                                 ("gender", "F" if c % 2 == 0 else "M"), ("op_ts", op_ts)])


def rows(path, columns, key, lo, hi, sort):
    t = pq.read_table(path, columns=columns)
    t = t.filter(pc.and_(pc.greater_equal(t[key], lo), pc.less(t[key], hi)))
    if "ts" in columns:  # timestamp[us] -> epoch milliseconds
        t = t.set_column(columns.index("ts"), "ts",
                         pc.divide(t["ts"].cast("int64"), 1000))
    return t.sort_by([(c, "ascending") for c in sort]).to_pylist()


def build(sf_dir, out, seed, seconds, scale):
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "workloads.json")) as fh:
        cfg = json.load(fh)["stream_gmall"]

    def sized(k):
        return max(1, round(cfg[k] * scale))

    ticks = max(1, int(seconds * 1000 / cfg["live_period_ms"]))
    warm_n, backlog_n = sized("warm_events"), sized("backlog_events")
    ev_n = warm_n + backlog_n + sized("live_events_per_tick") * ticks
    ev_off = sized("event_offset")
    logs = []
    for r in rows(f"{sf_dir}/events.parquet", ["event_id", "ts", "user_id", "event_type", "props"],
                  "event_id", ev_off, ev_off + ev_n, ["event_id"]):
        ts = r["ts"]
        k = int("".join(ch for ch in r["props"] if ch.isdigit()))
        logs.append(log_line(r["event_id"], ts, r["user_id"], r["event_type"], k))

    backlog_o, live_o = sized("backlog_orders"), sized("live_orders_per_tick") * ticks
    o_off = sized("order_offset")
    o_hi = o_off + sized("warm_orders") + backlog_o + live_o
    orders = rows(f"{sf_dir}/orders.parquet",
                  ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"],
                  "o_orderkey", o_off, o_hi, ["o_orderkey"])
    lines = rows(f"{sf_dir}/lineitem.parquet",
                 ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
                  "l_extendedprice"], "l_orderkey", o_off, o_hi,
                 ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"])
    jitter = random.Random(seed * 31 + 7)
    db, order_ts = [], {}
    for i, o in enumerate(orders):
        ts = i * 1000
        order_ts[o["o_orderkey"]] = ts
        db.append((ts, env("order_info", "insert", [
            ("id", o["o_orderkey"]), ("user_id", o["o_custkey"]),
            ("province_id", o["o_custkey"] % 25), ("order_status", o["o_orderstatus"]),
            ("total_amount", f"{o['o_totalprice']:.2f}"), ("create_time", stamp(ts))])))
    for i, l in enumerate(lines):
        dt = 8000 if jitter.randrange(10) == 0 else (jitter.randrange(9) - 4) * 1000
        ts = max(0, order_ts[l["l_orderkey"]] + dt)
        db.append((ts, env("order_detail", "insert", [
            ("id", i), ("order_id", l["l_orderkey"]), ("sku_id", l["l_partkey"]),
            ("sku_num", int(l["l_quantity"])), ("order_price", f"{l['l_extendedprice']:.2f}"),
            ("sku_name", f"sku {l['l_partkey']}"), ("create_time", stamp(ts))])))
    custs = list(dict.fromkeys(o["o_custkey"] for o in orders))
    parts = list(dict.fromkeys(l["l_partkey"] for l in lines))
    warm_cut = sized("warm_orders") * 1000
    backlog_cut = warm_cut + backlog_o * 1000
    # renames ride in the warm and backlog files, so setup warms the
    # dim-store merge and catch-up includes it; live files carry orders only
    db += [((i + 1) * backlog_cut // (live_o + 1), user(c, "update", f"user{c}-renamed", 2))
           for i, c in enumerate(custs[:live_o])]
    db.sort(key=lambda x: x[0])
    dims = ([user(c, "insert", f"user{c}", 1) for c in custs] +
            [env("base_province", "insert", [
                ("id", n), ("name", f"NATION_{n}"), ("area_code", f"{n * 1111:05d}"),
                ("iso_code", f"CN-{n}"), ("iso_3166_2", f"CN-{n}"), ("op_ts", 1)])
             for n in range(25)] +
            [env("sku_info", "insert", [
                ("id", p), ("spu_id", p // 10), ("tm_id", p % 25), ("category3_id", p % 100),
                ("sku_name", f"sku {p}"), ("op_ts", 1)]) for p in parts])

    os.makedirs(out, exist_ok=True)
    feeds = {"dims": dims, "warm_log": logs[:warm_n],
             "backlog_log": logs[warm_n:warm_n + backlog_n], "live_log": logs[warm_n + backlog_n:],
             "warm_db": [l for ts, l in db if ts < warm_cut],
             "backlog_db": [l for ts, l in db if warm_cut <= ts < backlog_cut],
             "live_db": [l for ts, l in db if ts >= backlog_cut]}
    for name, feed in feeds.items():
        with open(os.path.join(out, name + ".jsonl"), "w") as fh:
            fh.write("\n".join(feed) + "\n")
    with open(os.path.join(out, "feeds.json"), "w") as fh:
        json.dump({"ticks": ticks}, fh)


if __name__ == "__main__":
    if len(sys.argv) != 6:
        sys.exit(__doc__)
    build(sys.argv[1], sys.argv[2], int(sys.argv[3]), float(sys.argv[4]), float(sys.argv[5]))
