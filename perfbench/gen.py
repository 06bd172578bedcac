#!/usr/bin/env python3
"""Seeded input generator for the perfbench workloads.

A separate, single-threaded process. The same seed gives byte-identical files.

  gen.py drain  --seed N --out DIR [--events N] [--wide-events N]
      a backlog: ODS app log, CDC envelopes + table_process config, typed
      order/detail/payment facts, dims, and the pre-shaped visitor/product
      delta topics, each topic split into time-ordered files; with
      --wide-events also a second app-log backlog (wide/) whose devices are
      drawn uniformly from WIDE_MIDS, a second point on state size.
  gen.py paced  --seed N --out DIR --dims-only
  gen.py paced  --seed N --out DIR --rate R --seconds S
      the static dims (first call); then every tick a small file per topic, published by
      atomic rename on a fixed schedule that does not wait for the consumer;
      event ts = creation time; lateness of every publish goes to gen_log.json.
  gen.py epochs --seed N --out DIR --sf SFDIR --epochs E
      maintainer deltas: the sf fact tables split into E epochs by a seeded
      hash of their key, one parquet per table per epoch.

Traffic dimensions (all seeded): Zipf skew of `mid` and the number of distinct
mids (state size), the day-boundary crossing (is_new repair, daily UV), the
share of search pages, the share of out-of-order events within the watermark
and, in paced mode, of late events beyond it.
"""
import argparse
import bisect
import json
import os
import random
import sys
import time

N_MIDS = 3000
WIDE_MIDS = 200000        # drain, wide backlog: uniform, ~1 device per event
ZIPF_S = 1.1
SEARCH_SHARE = 0.15
OOO_SHARE = 0.02          # drain: displaced inside their file, ts within the watermark
PACED_OOO_SHARE = 0.005   # paced: ts 0.5-2.5 s before publication (inside the 3 s watermark)
PACED_LATE_SHARE = 0.001  # paced: ts 5-8 s before publication (beyond the watermark)
ORDER_SHARE = 0.1         # orders per event
PAY_SHARE = 0.8
EVENT_DENSITY = 200       # drain: events per second of event time
FILES = 8                 # drain: files per topic
TICK_S = 0.2              # paced: publication period
N_USERS, N_SKUS, N_SPUS, N_TMS, N_C3, N_PROV = 1000, 200, 40, 12, 20, 34
# a midnight inside the drain span: new devices seen on both days get repaired
MIDNIGHT_MS = 1623196800000  # 2021-06-09T00:00:00Z

WORDS = ["phone", "laptop", "spark", "stream", "camera", "watch", "shoe", "bag",
         "coffee", "book", "小米", "华为", "手机", "电脑", "耳机", "口红", "apple",
         "iphone", "redmi", "kafka", "flink", "tablet", "tv", "game"]
PAGES = ["home", "good_list", "good_detail", "cart", "trade", "mine", "login"]
CHANNELS = ["web", "oppo", "xiaomi", "huawei", "appstore", "vivo"]
VERSIONS = ["v2.1.134", "v2.1.132", "v2.0.1", "v1.9.9"]
BRANDS = ["Xiaomi", "Huawei", "Apple", "Oppo"]
DISPLAY_TYPES = ["activity", "query", "promotion", "recommend"]

J = dict(separators=(",", ":"), ensure_ascii=False)


def dumps(o):
    return json.dumps(o, **J)


def iso(ms):
    s, m = divmod(int(ms), 1000)
    return time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(s)) + ".%03dZ" % m


class World:
    """Devices, users, skus and the per-device session state."""

    def __init__(self, rng, n_mids=N_MIDS, zipf_s=ZIPF_S):
        self.rng = rng
        self.n_mids = n_mids
        w = [1.0 / (i + 1) ** zipf_s for i in range(n_mids)]
        acc, self.cum = 0.0, []
        for x in w:
            acc += x
            self.cum.append(acc)
        order = list(range(n_mids))
        rng.shuffle(order)
        self.mid_of_rank = order
        self.new_device = [rng.random() < 0.2 for _ in range(n_mids)]
        self.area = [rng.randrange(N_PROV) for _ in range(n_mids)]
        self.chan = [rng.choice(CHANNELS) for _ in range(n_mids)]
        self.ver = [rng.choice(VERSIONS) for _ in range(n_mids)]
        self.last_page = [None] * n_mids
        sku_w = [1.0 / (i + 1) for i in range(N_SKUS)]
        acc, self.sku_cum = 0.0, []
        for x in sku_w:
            acc += x
            self.sku_cum.append(acc)
        self.sku_spu = [rng.randrange(N_SPUS) + 1 for _ in range(N_SKUS)]
        self.sku_price = [round(rng.uniform(5, 500), 2) for _ in range(N_SKUS)]
        self.order_id = 0
        self.detail_id = 0
        self.pay_id = 0
        self.first_uv_day = {}

    def mid(self):
        r = bisect.bisect_left(self.cum, self.rng.random() * self.cum[-1])
        return self.mid_of_rank[min(r, self.n_mids - 1)]

    def sku(self):
        r = bisect.bisect_left(self.sku_cum, self.rng.random() * self.sku_cum[-1])
        return min(r, N_SKUS - 1) + 1

    def phrase(self):
        n = 1 + self.rng.randrange(3)
        return " ".join(self.rng.choice(WORDS) for _ in range(n))

    def log_event(self, ts):
        """One app-log record: (json line, page row or None)."""
        rng = self.rng
        m = self.mid()
        common = {"ar": "%d0000" % (11 + self.area[m]), "uid": str(1 + m % N_USERS),
                  "os": "Android 11.0", "ch": self.chan[m],
                  "is_new": "1" if self.new_device[m] else "0", "md": "model_%d" % (m % 7),
                  "mid": "mid_%d" % m, "vc": self.ver[m], "ba": BRANDS[m % len(BRANDS)]}
        if rng.random() < 0.05:
            self.last_page[m] = None
            rec = {"common": common,
                   "start": {"entry": "icon", "open_ad_skip_ms": rng.randrange(3000),
                             "open_ad_ms": rng.randrange(5000), "loading_time": rng.randrange(9000),
                             "open_ad_id": rng.randrange(20)},
                   "ts": ts}
            return dumps(rec), None
        if self.last_page[m] is None or rng.random() < 0.25:
            last = None
        else:
            last = self.last_page[m]
        if rng.random() < SEARCH_SHARE:
            pid = "good_list"
        else:
            pid = rng.choice(PAGES[:1] + PAGES[2:])
        page = {"page_id": pid, "during_time": 500 + rng.randrange(20000)}
        if last is not None:
            page["last_page_id"] = last
        if pid == "good_list":
            page["item"], page["item_type"] = self.phrase(), "keyword"
        elif pid == "good_detail":
            page["item"], page["item_type"] = str(self.sku()), "sku_id"
            page["source_type"] = "promotion"
        self.last_page[m] = pid
        rec = {"common": common, "page": page}
        if pid in ("home", "good_list", "good_detail") and rng.random() < 0.5:
            rec["displays"] = [{"display_type": rng.choice(DISPLAY_TYPES), "item": str(self.sku()),
                                "item_type": "sku_id", "pos_id": rng.randrange(5), "order": i + 1}
                               for i in range(1 + rng.randrange(3))]
        rec["ts"] = ts
        return dumps(rec), (m, common, page, rec.get("displays"), ts)

    def order(self, ts):
        rng = self.rng
        self.order_id += 1
        oid = self.order_id
        details = []
        for k in range(1 + rng.randrange(3)):
            self.detail_id += 1
            sku = self.sku()
            num = 1 + rng.randrange(3)
            price = self.sku_price[sku - 1]
            details.append({"id": self.detail_id, "order_id": oid, "sku_id": sku,
                            "order_price": price, "sku_num": num,
                            "split_total_amount": round(price * num, 2), "create_ts": ts + k})
        total = round(sum(d["split_total_amount"] for d in details), 2)
        info = {"id": oid, "user_id": 1 + rng.randrange(N_USERS),
                "province_id": 1 + rng.randrange(N_PROV), "total_amount": total, "create_ts": ts}
        return info, details

    def payment(self, info, ts):
        self.pay_id += 1
        return {"id": self.pay_id, "order_id": info["id"],
                "payment_type": "110%d" % (1 + info["id"] % 3),
                "total_amount": info["total_amount"], "callback_ts": ts}


def dims(world):
    rng = world.rng
    d = {
        "dim_user_info": [{"id": u, "gender": "MF"[u % 2],
                           "birthday": "%d-%02d-%02d" % (1960 + rng.randrange(45), 1 + rng.randrange(12),
                                                         1 + rng.randrange(28))}
                          for u in range(1, N_USERS + 1)],
        "dim_base_province": [{"id": p, "name": "province_%d" % p, "area_code": "%d0000" % (10 + p),
                               "iso_code": "CN-%02d" % p} for p in range(1, N_PROV + 1)],
        "dim_sku_info": [{"id": s, "sku_name": "sku %s %d" % (rng.choice(WORDS), s),
                          "spu_id": world.sku_spu[s - 1], "tm_id": 1 + s % N_TMS,
                          "category3_id": 1 + s % N_C3} for s in range(1, N_SKUS + 1)],
        "dim_spu_info": [{"id": s, "spu_name": "%s %s %s" % (rng.choice(WORDS), rng.choice(WORDS),
                                                             rng.choice(WORDS))}
                         for s in range(1, N_SPUS + 1)],
        "dim_base_trademark": [{"id": t, "tm_name": BRANDS[t % len(BRANDS)] + str(t)}
                               for t in range(1, N_TMS + 1)],
        "dim_base_category3": [{"id": c, "name": "cat_%d" % c} for c in range(1, N_C3 + 1)],
    }
    return d


TABLE_PROCESS = [
    ("order_info", "insert", "kafka", "dwd_order_info", "id,user_id,province_id,total_amount,create_time", "id"),
    ("order_detail", "insert", "kafka", "dwd_order_detail",
     "id,order_id,sku_id,order_price,sku_num,split_total_amount,create_time", "id"),
    ("payment_info", "insert", "kafka", "dwd_payment_info",
     "id,order_id,payment_type,total_amount,callback_time", "id"),
    ("user_info", "insert", "hbase", "dim_user_info", "id,gender,birthday", "id"),
    ("user_info", "update", "hbase", "dim_user_info", "id,gender,birthday", "id"),
    ("sku_info", "insert", "hbase", "dim_sku_info", "id,sku_name,spu_id,tm_id,category3_id", "id"),
    ("sku_info", "update", "hbase", "dim_sku_info", "id,sku_name,spu_id,tm_id,category3_id", "id"),
]


def write_lines(path, lines):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        for line in lines:
            f.write(line)
            f.write("\n")


def publish(path, lines):
    """Atomic publish: write a hidden temp file, then rename into place."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, "." + name + ".tmp")
    with open(tmp, "w", encoding="utf-8") as f:
        f.write("".join(line + "\n" for line in lines))
    os.rename(tmp, path)


def write_dims(out, d, subdirs):
    for sub, names in subdirs:
        for name in names:
            write_lines(os.path.join(out, sub, name, "part-0.json"), [dumps(r) for r in d[name]])


def backlog_span(n_events):
    """(t0, span) of a drain backlog: EVENT_DENSITY events per second of
    event time, centred on MIDNIGHT_MS."""
    span_ms = n_events * 1000 // EVENT_DENSITY
    return MIDNIGHT_MS - span_ms // 2, span_ms


def file_of(ts, t0, span_ms):
    return min(FILES - 1, max(0, int((ts - t0) * FILES // span_ms)))


def displace(rng, chunks):
    """Out-of-order inside the watermark: move a share of lines a few
    positions later inside their own file, so every file's ts set is kept."""
    for lines in chunks:
        n = len(lines)
        for i in range(n):
            if rng.random() < OOO_SHARE and n > 1:
                j = min(n - 1, i + 1 + rng.randrange(20))
                lines[i], lines[j] = lines[j], lines[i]


def wide_log(seed, out, n_events):
    """The drain's second point on state size: an app-log backlog over the
    same kind of span, whose devices are drawn uniformly from WIDE_MIDS, so
    nearly every event comes from a device not seen before."""
    rng = random.Random("wide-%d" % seed)
    world = World(rng, WIDE_MIDS, 0.0)
    t0, span_ms = backlog_span(n_events)
    step = span_ms / n_events
    chunks = [[] for _ in range(FILES)]
    for i in range(n_events):
        ts = t0 + int(i * step)
        chunks[file_of(ts, t0, span_ms)].append(world.log_event(ts)[0])
    displace(rng, chunks)
    for k, lines in enumerate(chunks):
        if lines:
            write_lines(os.path.join(out, "wide", "ods_base_log", "part-%02d.txt" % k), lines)


def drain(seed, out, n_events, wide_events=0):
    rng = random.Random(seed)
    world = World(rng)
    t0, span_ms = backlog_span(n_events)
    step = span_ms / n_events
    files = {}  # topic dir -> list of per-file line lists

    def put(topic, ts, line):
        files.setdefault(topic, [[] for _ in range(FILES)])[file_of(ts, t0, span_ms)].append(line)

    counts = {"events": 0, "page_events": 0, "orders": 0, "details": 0, "payments": 0,
              "cdc": 0, "search_pages": 0}
    pending_pay = []
    cdc_ts = {}
    for i in range(n_events):
        ts = t0 + int(i * step)
        line, page_row = world.log_event(ts)
        put("ods/ods_base_log", ts, line)
        counts["events"] += 1
        if page_row is not None:
            m, common, page, displays, _ = page_row
            counts["page_events"] += 1
            counts["search_pages"] += page["page_id"] == "good_list"
            entry = 1 if "last_page_id" not in page else 0
            base = {"ar": common["ar"], "ch": common["ch"], "vc": common["vc"],
                    "is_new": common["is_new"], "event_time": iso(ts)}
            put("visitor/dwd_pv", ts, dumps(dict(base, pv_ct=1, sv_ct=entry, uv_ct=0, uj_ct=0,
                                                  dur_sum=page["during_time"])))
            day = ts // 86400000
            if entry and world.first_uv_day.get(m) != day:
                world.first_uv_day[m] = day
                put("visitor/dwm_uv", ts, dumps(dict(base, pv_ct=0, sv_ct=0, uv_ct=1, uj_ct=0, dur_sum=0)))
            if page["page_id"] == "good_detail":
                put("product/click", ts, dumps({"sku_id": int(page["item"]), "click_ct": 1,
                                                "event_time": iso(ts)}))
            for dsp in displays or []:
                put("product/display", ts, dumps({"sku_id": int(dsp["item"]), "display_ct": 1,
                                                  "event_time": iso(ts)}))
        if rng.random() < ORDER_SHARE:
            info, details = world.order(ts)
            counts["orders"] += 1
            counts["details"] += len(details)
            put("ods/dwd_order_info", ts, dumps(info))
            env_ts = ts // 1000
            put("ods/ods_base_db_m", ts, dumps({"database": "gmall2021", "table": "order_info",
                                                "type": "insert", "ts": env_ts,
                                                "data": dumps(dict(info, create_time=iso(ts)))}))
            for d in details:
                put("ods/dwd_order_detail", ts, dumps(d))
                put("ods/ods_base_db_m", ts, dumps({"database": "gmall2021", "table": "order_detail",
                                                    "type": "insert", "ts": env_ts,
                                                    "data": dumps(dict(d, create_time=iso(ts)))}))
                put("product/order", ts, dumps({"sku_id": d["sku_id"], "order_sku_num": d["sku_num"],
                                                "order_amount": d["split_total_amount"],
                                                "order_id": str(info["id"]), "event_time": iso(ts)}))
            counts["cdc"] += 1 + len(details)
            if rng.random() < PAY_SHARE:
                pending_pay.append((ts + 2000 + rng.randrange(58000), info, details))
            # dim changes ride the CDC stream; one change per key per second so
            # the last-wins order on the envelope ts is total
            if rng.random() < 0.3:
                table, key = ("user_info", info["user_id"]) if rng.random() < 0.6 else ("sku_info", world.sku())
                if cdc_ts.get((table, key)) != env_ts:
                    kind = "bootstrap-insert" if (table, key) not in cdc_ts else "update"
                    cdc_ts[(table, key)] = env_ts
                    data = ({"id": key, "gender": "MF"[rng.randrange(2)], "birthday": "1990-01-%02d" % (1 + key % 28)}
                            if table == "user_info" else
                            {"id": key, "sku_name": "sku %s %d" % (rng.choice(WORDS), key),
                             "spu_id": world.sku_spu[key - 1], "tm_id": 1 + key % N_TMS,
                             "category3_id": 1 + key % N_C3, "price": world.sku_price[key - 1]})
                    put("ods/ods_base_db_m", ts, dumps({"database": "gmall2021", "table": table, "type": kind,
                                                        "ts": env_ts, "data": dumps(data)}))
                    counts["cdc"] += 1
        if rng.random() < 0.002:  # invalid envelopes exercise the validity filter
            put("ods/ods_base_db_m", ts, dumps({"database": "gmall2021", "table": "order_info",
                                                "type": "insert", "ts": ts // 1000, "data": "{}"}))
    end = t0 + span_ms
    for pay_ts, info, details in pending_pay:
        if pay_ts >= end:
            continue
        p = world.payment(info, pay_ts)
        counts["payments"] += 1
        put("ods/dwd_payment_info", pay_ts, dumps(p))
        put("ods/ods_base_db_m", pay_ts, dumps({"database": "gmall2021", "table": "payment_info",
                                                "type": "insert", "ts": pay_ts // 1000,
                                                "data": dumps(dict(p, callback_time=iso(pay_ts)))}))
        counts["cdc"] += 1
        for d in details:
            put("product/payment", pay_ts, dumps({"sku_id": d["sku_id"], "payment_amount": d["split_total_amount"],
                                                  "paid_order_id": str(info["id"]), "event_time": iso(pay_ts)}))
    for chunks in files.values():
        displace(rng, chunks)
    for topic, chunks in sorted(files.items()):
        ext = "txt" if topic.endswith("ods_base_log") else "json"
        for k, lines in enumerate(chunks):
            if lines:
                write_lines(os.path.join(out, topic, "part-%02d.%s" % (k, ext)), lines)
    write_lines(os.path.join(out, "ods", "table_process", "part-0.json"),
                [dumps(dict(zip(["source_table", "operate_type", "sink_type", "sink_table",
                                 "sink_columns", "sink_pk"], r))) for r in TABLE_PROCESS])
    write_dims(out, dims(world), [("ods", ["dim_user_info", "dim_base_province", "dim_sku_info"]),
                            ("product", ["dim_sku_info", "dim_spu_info", "dim_base_trademark",
                                         "dim_base_category3"])])
    counts.update(t0_ms=t0, span_ms=span_ms, files_per_topic=FILES, wide_events=wide_events)
    if wide_events:
        wide_log(seed, out, wide_events)
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(counts, f, sort_keys=True)


def paced(seed, out, rate, seconds, dims_only=False):
    rng = random.Random(seed)
    world = World(rng)
    d = dims(world)  # drawn first either way, so the events do not depend on dims_only
    topics = ["ods_base_log", "dwd_order_info", "dwd_order_detail", "dwd_payment_info"]
    if dims_only:  # the dims and the (empty) topic directories the queries bind to
        write_dims(out, d, [("ods", ["dim_user_info", "dim_base_province", "dim_sku_info"])])
        for t in topics:
            os.makedirs(os.path.join(out, "ods", t), exist_ok=True)
        return
    per_tick = rate * TICK_S
    ticks = int(round(seconds / TICK_S))
    late_ms, files = [], []
    counts = {"events": 0, "page_events": 0, "orders": 0, "payments": 0, "late_events": 0, "ooo_events": 0}
    unpaid = []
    start = time.time()
    carry = 0.0
    for k in range(ticks):
        due = start + k * TICK_S
        now = time.time()
        if due > now:
            time.sleep(due - now)
        carry += per_tick
        n = int(carry)
        carry -= n
        now_ms = int(time.time() * 1000)
        logs, infos, details, pays = [], [], [], []
        pages = 0
        for _ in range(n):
            u = rng.random()
            if u < PACED_LATE_SHARE:
                ts = now_ms - 5000 - rng.randrange(3000)
                counts["late_events"] += 1
            elif u < PACED_LATE_SHARE + PACED_OOO_SHARE:
                ts = now_ms - 500 - rng.randrange(2000)
                counts["ooo_events"] += 1
            else:
                ts = now_ms
            line, page_row = world.log_event(ts)
            logs.append(line)
            pages += page_row is not None
            if rng.random() < ORDER_SHARE:
                info, ds = world.order(now_ms)
                infos.append(dumps(info))
                details.extend(dumps(d) for d in ds)
                if rng.random() < PAY_SHARE:
                    unpaid.append((now_ms + 1000 + rng.randrange(4000), info))
        while unpaid and unpaid[0][0] <= now_ms:
            _, info = unpaid.pop(0)
            pays.append(dumps(world.payment(info, now_ms)))
        name = "part-%05d.json" % k
        for t, lines in zip(topics, [logs, infos, details, pays]):
            if lines:
                publish(os.path.join(out, "ods", t, name), lines)
        published = time.time()
        late_ms.append((published - due) * 1000.0)
        files.append({"k": k, "due": due, "published": published, "events": n, "page_events": pages,
                      "orders": len(infos), "payments": len(pays), "file": name})
        counts["events"] += n
        counts["page_events"] += pages
        counts["orders"] += len(infos)
        counts["payments"] += len(pays)
    counts.update(rate=rate, tick_s=TICK_S, start=start, end=time.time())
    with open(os.path.join(out, "gen_log.json"), "w") as f:
        json.dump({"counts": counts, "late_ms": late_ms, "files": files}, f)


def splitmix64(x):
    import numpy as np
    x = (x + np.uint64(0x9E3779B97F4A7C15))
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


EPOCH_TABLES = {"events": "event_id", "documents": "doc_id", "embeddings": "vec_id",
                "orders": "o_orderkey", "customer": "c_custkey"}


def epochs(seed, out, sf, n_epochs):
    import numpy as np
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    with np.errstate(over="ignore"):
        for table, key in sorted(EPOCH_TABLES.items()):
            t = pq.read_table(os.path.join(sf, table + ".parquet"))
            keys = t.column(key).to_numpy().astype(np.int64).view(np.uint64)
            e = (splitmix64(keys ^ np.uint64(seed)) % np.uint64(n_epochs)).astype(np.int64)
            for k in range(n_epochs):
                d = os.path.join(out, "epoch_%d" % k)
                os.makedirs(d, exist_ok=True)
                part = t.filter(pc.equal(e, k))
                pq.write_table(part, os.path.join(d, table + ".parquet"))
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump({"epochs": n_epochs, "tables": EPOCH_TABLES, "sf": sf}, f, sort_keys=True)


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["drain", "paced", "epochs"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--events", type=int, default=30000)
    ap.add_argument("--wide-events", type=int, default=0,
                    help="drain: also write the wide-device app-log backlog under wide/")
    ap.add_argument("--rate", type=int, default=400)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--dims-only", action="store_true")
    ap.add_argument("--sf")
    ap.add_argument("--epochs", type=int, default=6)
    a = ap.parse_args(argv)
    os.makedirs(a.out, exist_ok=True)
    if a.mode == "drain":
        drain(a.seed, a.out, a.events, a.wide_events)
    elif a.mode == "paced":
        paced(a.seed, a.out, a.rate, a.seconds, a.dims_only)
    else:
        epochs(a.seed, a.out, a.sf, a.epochs)


if __name__ == "__main__":
    main(sys.argv[1:])
