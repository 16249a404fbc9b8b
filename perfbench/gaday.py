"""Seeded generator for one day of enriched GA hits, with ground truth.

The day is written as enriched JSONL (the sessionization job's input,
FIXTURES.md F2). Its ground truth is computed here in plain Python from
the reference's rules, never by the engine under test:

- hits of one visitor are ordered by (received time, message id); a hit
  starts a session when it is the visitor's first or follows the
  previous hit by 30 minutes or more; timing hits count for these
  boundaries and are then dropped together with adtiming hits (P3);
- an event hit fans out into one row per populated product slot (the
  enhanced-ecommerce unpivot); every other hit stays one row;
- each mart is filtered to rows whose hit timestamp falls on the job
  date in Europe/Berlin;
- a session's revenue is the sum of ``body_tr`` over its purchase events.

The shape follows what makes the job expensive or skewed: hits per
visitor are Zipf-distributed, a few bot visitors carry several percent
of the day each, some sessions cross midnight in either direction, and
the hit mix follows FIXTURES.md F1 (pageviews, plain and product
events, purchases, transactions with items, timing/adtiming hits, and
UTM, gclid, referral and direct landings).
"""

from __future__ import annotations

import datetime as _dt
import json
import random
from zoneinfo import ZoneInfo

TZ = ZoneInfo("Europe/Berlin")
MIN_MS = 60_000
GAP_MS = 30 * MIN_MS
DAY_MS = 86_400_000
CID_SPACE = 3000      # visitor ids; days drawn from one space share visitors
BOT_SHARE = 0.15      # share of a day's hits the three bots split
DROPPED = ("timing", "adtiming")
MARTS = ("sessions", "pageviews", "events", "products", "transactions", "items")

_UAS = [
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) Firefox/115.0", "Firefox",
     "desktop", False),
    ("Mozilla/5.0 (Macintosh; Intel Mac OS X 13_4) Chrome/120.0", "Chrome",
     "desktop", False),
    ("Mozilla/5.0 (iPhone; CPU iPhone OS 16_5) Safari/604.1", "Safari",
     "mobile", True),
    ("Mozilla/5.0 (Linux; Android 13; Pixel 7) Chrome/119.0 Mobile", "Chrome",
     "mobile", True),
]
_BOT_UA = ("Googlebot/2.1 (+http://www.google.com/bot.html)", "Googlebot",
           "(not set)", False)
_GEOS = [
    ("Europe", "Germany", "Berlin"), ("Europe", "France", "Paris"),
    ("Americas", "United States", "Boston"), ("Asia", "Japan", "Tokyo"),
]
_PAGES = ["/", "/shop", "/shop/shoes", "/shop/socks", "/cart", "/help",
          "/blog/fall-collection", "/account"]
_CATEGORIES = ["Apparel", "Shoes", "Accessories", "Outdoor"]
_LANDINGS = [
    (0.20, "?utm_source=newsletter&utm_medium=email&utm_campaign=sale"
           "&utm_term=shoes&utm_content=v{n}", None),
    (0.10, "?gclid=Cj0KCQ{n}", None),
    (0.15, "", "https://www.google.com/"),
    (0.10, "", "https://partner.example/page?x={n}"),
    (0.45, "", None),
]


def day_start_ms(date: str) -> int:
    """Epoch millis of local midnight (Europe/Berlin) starting ``date``."""
    d = _dt.date.fromisoformat(date)
    return int(_dt.datetime(d.year, d.month, d.day, tzinfo=TZ).timestamp() * 1000)


def local_date(ms: int) -> str:
    return _dt.datetime.fromtimestamp(ms / 1000, TZ).date().isoformat()


def _zipf_hits(rng: random.Random, alpha: float, cap: int) -> int:
    # inverse-CDF draw from a continuous power law, floored at one hit
    return min(cap, int(rng.paretovariate(alpha)))


class _Day:
    def __init__(self, rng: random.Random, date: str, tag: str):
        self.rng = rng
        self.tag = tag
        self.t0 = day_start_ms(date)
        self.hits: list[dict] = []

    def hit(self, cid: str, ms: int, t: str, dev, geo, **body) -> None:
        n = len(self.hits)
        ua, browser, category, mobile = dev
        h = {
            "system_source": "ga",
            "system_version": "1",
            "message_id": f"{self.tag}-{n:07d}",
            "trace_id": f"Root=1-{self.tag}-{n:08x}",
            "received_at_apig": str(ms),
            "ip": f"198.51.{n % 250}.{(n * 7) % 250}",
            "user_agent": ua,
            "body_v": "1",
            "body_tid": "UA-142371309-1",
            "body_cid": cid,
            "body_t": t,
            "body_ul": "en-gb",
            "body_sr": "1920x1080",
            "geo_continent": geo[0],
            "geo_country": geo[1],
            "geo_city": geo[2],
            "device_client_name": browser,
            "device_device_type": category,
            "device_is_mobile": mobile,
            "device_is_bot": dev is _BOT_UA,
        }
        h.update(body)
        self.hits.append(h)

    def products(self, k: int) -> dict:
        body = {}
        for i in range(k):
            sku = self.rng.randrange(400)
            body[f"body_pr{i}id"] = f"SKU-{sku:04d}"
            body[f"body_pr{i}nm"] = f"Product {sku}"
            body[f"body_pr{i}ca"] = _CATEGORIES[sku % len(_CATEGORIES)]
            body[f"body_pr{i}pr"] = f"{5 + sku % 90}.{sku % 100:02d}"
            body[f"body_pr{i}qt"] = str(1 + sku % 3)
        return body

    def session(self, cid: str, start: int, n: int, dev, geo) -> int:
        """Emit one session of ``n`` hits from ``start``; returns the time
        of its last hit. Intra-session gaps stay under 30 minutes."""
        rng = self.rng
        url = f"http://shop.example{rng.choice(_PAGES)}"
        r, acc = rng.random(), 0.0
        for share, query, referrer in _LANDINGS:
            acc += share
            if r < acc:
                break
        landing = {"body_dl": url + query.format(n=rng.randrange(50))}
        if referrer:
            landing["body_dr"] = referrer.format(n=rng.randrange(50))
        t = start
        self.hit(cid, t, "pageview", dev, geo, body_dp="/", **landing)
        purchase = n >= 4 and rng.random() < 0.25
        for i in range(1, n):
            t += min(GAP_MS - 1, int(rng.expovariate(1 / 90_000)) + 1)
            if purchase and i == n - 1:
                tid = f"T-{self.tag}-{len(self.hits)}"
                self.hit(cid, t, "event", dev, geo, body_pa="purchase",
                         body_ti=tid, body_tr=f"{rng.randrange(500, 30000) / 100:.2f}",
                         body_cu="EUR", **self.products(rng.randint(1, 3)))
                if rng.random() < 0.5:
                    t += 1000
                    self.hit(cid, t, "transaction", dev, geo, body_ti=tid,
                             body_tr=f"{rng.randrange(500, 30000) / 100:.2f}",
                             body_ts="4.90", body_tt="1.20", body_cu="EUR")
                    for _ in range(rng.randint(1, 2)):
                        t += 500
                        sku = rng.randrange(400)
                        self.hit(cid, t, "item", dev, geo, body_ti=tid,
                                 body_ic=f"SKU-{sku:04d}", body_in=f"Product {sku}",
                                 body_iv=_CATEGORIES[sku % 4], body_ip="20",
                                 body_iq="1")
                continue
            r = rng.random()
            if r < 0.58:
                self.hit(cid, t, "pageview", dev, geo,
                         body_dl=f"http://shop.example{rng.choice(_PAGES)}")
            elif r < 0.76:
                self.hit(cid, t, "event", dev, geo, body_ec="ui",
                         body_ea=rng.choice(["click", "scroll", "play"]),
                         body_el=f"el{rng.randrange(20)}", body_ev=str(rng.randrange(10)))
            elif r < 0.90:
                self.hit(cid, t, "event", dev, geo,
                         body_pa=rng.choice(["detail", "add", "checkout"]),
                         **self.products(rng.randint(1, 3)))
            else:
                self.hit(cid, t, rng.choice(["timing"] * 4 + ["adtiming"]),
                         dev, geo)
        return t


def generate_day(seed: int, date: str, n_hits: int, tag: str = "d") -> list[dict]:
    """Exactly ``n_hits`` hits for ``date`` from ``seed``. Visitor ids come
    from ``range(CID_SPACE)``, so generated days share returning
    visitors; three bots split ``BOT_SHARE`` of the day."""
    rng = random.Random(f"{seed}:{date}:{tag}")
    day = _Day(rng, date, tag)
    cids = list(range(CID_SPACE))
    rng.shuffle(cids)
    for cid_n in cids:
        if len(day.hits) >= n_hits * (1 - BOT_SHARE):
            break
        cid = f"{cid_n}.{1560000000 + cid_n}"
        dev, geo = rng.choice(_UAS), rng.choice(_GEOS)
        budget = _zipf_hits(rng, 1.3, 400)
        r = rng.random()
        if r < 0.02:
            # crosses into the next day: starts 23:40-23:58 local
            t = day.t0 + DAY_MS - rng.randrange(2, 20) * MIN_MS
        elif r < 0.03:
            # started the evening before: only its tail lands on the job date
            t = day.t0 - rng.randrange(2, 10) * MIN_MS
        else:
            t = day.t0 + rng.randrange(0, DAY_MS - 3 * 3_600_000)
        while budget > 0:
            n = min(budget, max(1, int(rng.expovariate(1 / 7))))
            budget -= n
            t = day.session(cid, t, n, dev, geo)
            # next session: exactly at the boundary now and then
            t += GAP_MS if rng.random() < 0.05 else GAP_MS + int(
                rng.expovariate(1 / 7_200_000))
    # the bots fill the day up to n_hits, paced under the session gap
    # with a rare long pause
    rest = max(0, n_hits - len(day.hits))
    for b in range(3):
        cid = f"bot{b}.{seed % 1000}"
        t = day.t0 + rng.randrange(0, 3_600_000)
        for _ in range(rest // 3 + (b < rest % 3)):
            day.hit(cid, t, "pageview", _BOT_UA, ("(not set)",) * 3,
                    body_dl=f"http://shop.example{rng.choice(_PAGES)}")
            t += rng.randrange(5_000, 60_000)
            if rng.random() < 0.002:
                t += GAP_MS + rng.randrange(0, 600_000)
    return day.hits


def _product_slots(h: dict) -> int:
    return sum(1 for i in range(20) if f"body_pr{i}id" in h)


def _segment(hits: list[dict]):
    """Per visitor, its kept hits as ``(session number, starts session,
    hit)``: flags over all hits, then timing/adtiming hits dropped."""
    by_visitor: dict[str, list[dict]] = {}
    for h in hits:
        by_visitor.setdefault(h["body_cid"], []).append(h)
    for vh in by_visitor.values():
        vh.sort(key=lambda h: (int(h["received_at_apig"]), h["message_id"]))
        prev = None
        sid = 0
        kept = []
        for h in vh:
            ms = int(h["received_at_apig"])
            new = prev is None or ms - prev >= GAP_MS
            sid += new
            prev = ms
            if h["body_t"] not in DROPPED:
                kept.append((sid, new, h))
        yield kept


def _revenue(kept) -> dict[int, float]:
    revenue: dict[int, float] = {}
    for sid, _, h in kept:
        if h["body_t"] == "event" and h.get("body_pa") == "purchase":
            revenue[sid] = revenue.get(sid, 0.0) + float(h["body_tr"])
    return revenue


def ground_truth(hits: list[dict], date: str,
                 history: dict[str, int] | None = None) -> dict:
    """Expected rows per mart, sessions, transactions and revenue for the
    job date, by the rules in the module docstring.

    ``history`` maps visitor ids to their session rows in the history
    table. A session row's touchpoints list every session row of its
    visitor in history and in today's input, whatever their date, so
    ``touchpoints`` (the sum of list lengths over the job date's session
    rows) shows whether the history was read.
    """
    history = history or {}
    rows = dict.fromkeys(MARTS, 0)
    sessions = 0
    session_revenue = 0.0
    transaction_revenue = 0.0
    touchpoints = 0
    for kept in _segment(hits):
        revenue = _revenue(kept)
        cid = kept[0][2]["body_cid"] if kept else None
        visitor_rows = sum(max(1, _product_slots(h) if h["body_t"] == "event" else 0)
                           for _, new, h in kept if new)
        for sid, new, h in kept:
            if local_date(int(h["received_at_apig"])) != date:
                continue
            t = h["body_t"]
            slots = _product_slots(h) if t == "event" else 0
            fan = max(1, slots)
            if new:
                rows["sessions"] += fan
                sessions += 1
                session_revenue += fan * revenue.get(sid, 0.0)
                touchpoints += fan * (history.get(cid, 0) + visitor_rows)
            if t == "pageview":
                rows["pageviews"] += 1
            elif t == "event":
                rows["products" if slots else "events"] += fan
            elif t == "transaction":
                rows["transactions"] += 1
                transaction_revenue += float(h["body_tr"])
            elif t == "item":
                rows["items"] += 1
    return {
        "date": date,
        "hits": len(hits),
        "rows": rows,
        "sessions": sessions,
        "transactions": rows["transactions"],
        "session_revenue": round(session_revenue, 2),
        "transaction_revenue": round(transaction_revenue, 2),
        "touchpoints": touchpoints,
    }


def _source(h: dict) -> tuple[str, str]:
    dl, dr = h.get("body_dl", ""), h.get("body_dr")
    if "utm_source=" in dl:
        return dl.split("utm_source=")[1].split("&")[0], "email"
    if "gclid=" in dl:
        return "google", "cpc"
    if dr:
        return dr.split("/")[2], "organic" if "google" in dr else "referral"
    return "(direct)", "(none)"


def sessions(hits: list[dict]) -> list[dict]:
    """One record per session that has a kept starting hit, as the
    sessions mart would hold it."""
    out = []
    for kept in _segment(hits):
        revenue = _revenue(kept)
        ends: dict[int, int] = {}
        for sid, _, h in kept:
            ends[sid] = int(h["received_at_apig"])
        for sid, new, h in kept:
            if not new:
                continue
            start = int(h["received_at_apig"])
            source, medium = _source(h)
            out.append({
                "cid": h["body_cid"], "number": sid, "start_ms": start,
                "end_ms": ends[sid], "date": local_date(start),
                "source": source, "medium": medium,
                "country": h["geo_country"], "browser": h["device_client_name"],
                "revenue": revenue.get(sid), "landing": h.get("body_dl"),
            })
    return out


def write_jsonl(hits: list[dict], path: str) -> int:
    """Write one JSON object per line; returns the bytes written."""
    with open(path, "w") as f:
        for h in hits:
            f.write(json.dumps(h, separators=(",", ":")) + "\n")
        return f.tell()
