"""Seeded raw-batch generator for the ingest_batches workload.

Each batch is one scrape run's object: a directory of one or two raw JSON
files (map envelope `{url: record}` and/or list envelope `[record]`) holding
auction records. The first WARMUP_BATCHES batches, which the benchmark loads
untimed, hold 300 to 2,000 records each; every later batch holds
TIMED_RECORDS, so each timed op gets the same amount of work whatever the seed
and however many ops fit in a run. The records carry every value case of
FIXTURES.md section 1:

- map and list envelopes, with the map key overriding the record's own url;
- highlights and services as struct or bare list, `service_history` and its
  `services` alias;
- missing `view_count` / `watcher_count`;
- invalid or null `auction_status` (about 10 %, they go to the rescrape list);
- an unparseable bid string and bid lists shorter than two;
- a location without a comma and a title status without parentheses;
- three date formats (space, `T` separator, epoch millis);
- keep-newest duplicates: about 20 % of records re-scrape an earlier auction
  (same id, same day, a later time, changed counts, mileage and bids), and
  a few repeat an auction of the same batch.

Dates slide: batch b draws new auctions from days [2b, 2b + 5), so each batch
rewrites partitions an earlier batch wrote and adds new ones.

The generator also keeps its own model of the pipeline's rules and writes the
expected state after every batch, and the warm-up count, to `truth.json`:

- `rescrape`: rescrape URLs of the batch (one per invalid record);
- `processed_rows`, `fact_rows`, `vehicle_rows`: distinct valid auction ids
  so far (one processed row per id and day, one fact row per id, one vehicle
  row per (vin, auction_id));
- `processed_views`: sum of view_count over the processed layer, newest
  version per id (keep-newest);
- `fact_views`: sum of view_count over the fact table, the version loaded
  first per id (U1, insert-only);
- `vehicle_mileage`: sum of mileage over the vehicle dim, newest version
  per id (U2, upsert);
- `dates`: the day partitions the batch touches.

`generate(out, seed, batches)` is the entry point.
"""
import datetime as dt
import json
import os
import random

# batches loaded before the benchmark's timed window: the initial load and two
# incremental ones (with one, how much JIT compilation was left for the timed
# ops varied from run to run: latency 5.5-7.4 s over five runs at 4 cores;
# with two it settles at 5.8-6.2 s)
WARMUP_BATCHES = 3
# records in every timed batch
TIMED_RECORDS = 1150

MAKES = {
    "Ford": ["F-150", "Mustang", "Bronco", "Focus RS", "Ranger"],
    "BMW": ["M3", "M5", "Z4", "X5", "330i", "M240i"],
    "Porsche": ["911", "Cayman", "Boxster", "Macan", "Taycan"],
    "Toyota": ["Supra", "Land Cruiser", "Tacoma", "4Runner", "MR2"],
    "Audi": ["RS3", "S4", "R8", "TT RS", "Allroad"],
    "Honda": ["S2000", "Civic Type R", "NSX", "Element"],
    "Mazda": ["MX-5 Miata", "RX-7", "RX-8", "Mazdaspeed3"],
    "Subaru": ["WRX STI", "BRZ", "Outback", "Forester XT"],
    "Chevrolet": ["Corvette", "Camaro SS", "Silverado", "Tahoe"],
    "Mercedes-Benz": ["G550", "E63 AMG", "SL500", "C300"],
    "Nissan": ["370Z", "GT-R", "Skyline", "Xterra"],
    "Volkswagen": ["Golf R", "GTI", "Vanagon", "Jetta"],
}
CITIES = [("Dallas", "TX 75201"), ("Austin", "TX 78701"), ("Denver", "CO 80202"),
          ("Seattle", "WA 98101"), ("Portland", "OR 97201"), ("Miami", "FL 33101"),
          ("Boston", "MA 02108"), ("Phoenix", "AZ 85001"), ("Chicago", "IL 60601"),
          ("Los Angeles", "CA 90001"), ("San Diego", "CA 92101"), ("Reno", "NV 89501"),
          ("Salt Lake City", "UT 84101"), ("Atlanta", "GA 30301"), ("Nashville", "TN 37201")]
STATES = ["CA", "TX", "FL", "NY", "WA", "CO", "AZ", "OR", "GA", "IL"]
BODY = ["Coupe", "Sedan", "Truck", "SUV/Crossover", "Convertible", "Wagon", "Hatchback", "Van/Minivan"]
DRIVE = ["Rear-wheel drive", "Front-wheel drive", "All-wheel drive", "4WD/AWD", "4WD", "Four-wheel drive", ""]
TRANS = ["6-Speed Manual", "5-Speed Manual", "Automatic (8-Speed)", "7-Speed Automatic",
         "Manual", "CVT", "Automatic"]
ENGINES = ["2.0L Turbo I4", "3.0L Turbo I6", "5.0L V8", "4.0L Flat-6", "1.8L I4", "Electric"]
COLORS = ["Black", "White", "Red", "Blue", "Silver", "Gray", "Green", "Yellow", "Orange"]
SELLER_TYPES = ["Private Party", "Dealer"]
VALID_STATUS = ["Sold to {u}", "Sold", "Reserve not met, bid to", "Reserve Not Met",
                "Canceled", "Cancelled", "SOLD TO {u}"]
INVALID_STATUS = [None, "pending", "Live", "", "ending soon", "Upcoming"]
EPOCH = dt.datetime(2024, 3, 1)


def _fmt_date(t: dt.datetime, style: int) -> str:
    if style == 0:
        return t.strftime("%Y-%m-%d %H:%M:%S")
    if style == 1:
        return t.strftime("%Y-%m-%dT%H:%M:%S")
    ms = int((t - dt.datetime(1970, 1, 1)).total_seconds()) * 1000
    return str(ms)


def _mileage(rng: random.Random):
    """(raw string, parsed value or None)."""
    if rng.random() < 0.05:
        return "TMU", None
    m = rng.randrange(1_000, 180_000)
    if rng.random() < 0.5:
        return f"{m:,} miles", m
    return f"{m:,} Miles Shown", m


def _bids(rng: random.Random, top: int):
    r = rng.random()
    if r < 0.05:
        return ["$1,000", "abc", f"${top:,}"]       # unparseable → []
    if r < 0.10:
        return [f"${top:,}"]                          # len < 2 → null stats
    if r < 0.12:
        return []
    n = rng.randrange(2, 12)
    vals = sorted(rng.sample(range(max(500, top // 4), top + 1), min(n, top // 2)))
    return [f"${v:,}" if rng.random() < 0.5 else f"{v:,}" for v in vals]


class Model:
    """The generator's own model of keep-newest, U1 and U2."""

    def __init__(self):
        self.newest = {}      # id -> (time, views, mileage)
        self.fact_view = {}   # id -> views of the version first loaded

    def apply(self, valid_recs):
        """valid_recs: (id, time, views, mileage) of one batch."""
        batch_newest = {}
        for aid, t, v, m in valid_recs:
            cur = batch_newest.get(aid)
            if cur is None or t > cur[0]:
                batch_newest[aid] = (t, v, m)
        for aid, rec in batch_newest.items():
            old = self.newest.get(aid)
            if old is None or rec[0] > old[0]:
                self.newest[aid] = rec
        for aid in batch_newest:
            # U1: the fact row is inserted from the processed layer's newest
            # version at the first load that sees the id, never updated
            self.fact_view.setdefault(aid, self.newest[aid][1])

    def state(self):
        return {
            "processed_rows": len(self.newest),
            "fact_rows": len(self.fact_view),
            "vehicle_rows": len(self.newest),
            "processed_views": sum(v for _, v, _ in self.newest.values()),
            "fact_views": sum(self.fact_view.values()),
            "vehicle_mileage": sum(m for _, _, m in self.newest.values() if m is not None),
        }


def _record(rng, aid, t, make, model, year, vin, views, watchers, mileage_raw,
            valid, city_state, user):
    status = (rng.choice(VALID_STATUS).format(u=user) if valid
              else rng.choice(INVALID_STATUS))
    top = rng.randrange(5_000, 150_000)
    slug = f"{year}-{make.lower()}-{model.lower().replace(' ', '-')}"
    url = f"https://carsandbids.com/auctions/{aid}/{slug}"
    stats = {
        "reserve_status": rng.choice(["Reserve", "No Reserve"]),
        "auction_status": status,
        "highest_bid_value": rng.choice([f"{top:,}", f"${top:,}"]),
        "buyer_username": user,
        "seller_username": f"seller{rng.randrange(500)}",
        "bid_count": rng.randrange(0, 60),
        "auction_date": _fmt_date(t, rng.randrange(3)),
        "bids": _bids(rng, top),
    }
    if views is not None:
        stats["view_count"] = views
    if watchers is not None:
        stats["watcher_count"] = watchers
    city, tail = city_state
    r = rng.random()
    location = (f"{city}, {tail}" if r < 0.9 else city if r < 0.95
                else f"{city}, Suite 5, {tail}")
    state = rng.choice(STATES)
    title = rng.choice([f"Clean ({state})", f"Salvage ({state})", "Clean", f"Rebuilt ({state})"])
    highlights = [f"highlight {i}" for i in range(rng.randrange(0, 6))]
    rec = {
        "auction_url": url,
        "auction_title": f"{year} {make} {model}",
        "auction_subtitle": rng.choice(["~1 owner", "6-Speed Manual, Mostly Unmodified",
                                        "Turbocharged", None]),
        "dougs_take": "A fine example." if rng.random() < 0.5 else None,
        "auction_stats": stats,
        "auction_quick_facts": {
            "Make": make,
            "Model": model + ("\nSave" if rng.random() < 0.3 else ""),
            "Mileage": mileage_raw,
            "VIN": vin,
            "Title Status": title,
            "Location": location,
            "Seller": user + ("\nContact" if rng.random() < 0.2 else ""),
            "Engine": rng.choice(ENGINES),
            "Drivetrain": rng.choice(DRIVE),
            "Transmission": rng.choice(TRANS),
            "Body Style": rng.choice(BODY),
            "Exterior Color": rng.choice(COLORS),
            "Interior Color": rng.choice(COLORS),
            "Seller Type": rng.choice(SELLER_TYPES),
        },
        "auction_highlights": (highlights if rng.random() < 0.2 else
                               {"description": "hl", "bullet_points": highlights}),
        "known_flaws": [f"flaw {i}" for i in range(rng.randrange(0, 4))],
        "included_items": [f"item {i}" for i in range(rng.randrange(0, 3))],
        "seller_notes": ["note"] if rng.random() < 0.3 else None,
        "auction_videos": [f"vid{rng.randrange(10**6)}"] if rng.random() < 0.4 else None,
    }
    svc = {"description": "svc", "items": [f"svc {i}" for i in range(rng.randrange(0, 4))]}
    r = rng.random()
    if r < 0.4:
        rec["service_history"] = svc
    elif r < 0.7:
        rec["services"] = svc
    elif r < 0.8:
        rec["service_history"] = svc["items"]
    if rng.random() < 0.3:
        rec["auction_equipment"] = ["roof rack"] * rng.randrange(1, 3)
    if rng.random() < 0.3:
        rec["modifications"] = ["exhaust"] * rng.randrange(1, 3)
    return url, rec


def generate(out: str, seed: int, batches: int) -> dict:
    rng = random.Random(seed)
    model = Model()
    known = []          # (id, day, make, model, year, vin, city_state, user) of valid auctions
    truth = {"seed": seed, "warmup_batches": WARMUP_BATCHES, "batches": []}
    next_id = 0
    last_time = {}      # id -> time of its newest version so far
    seen = set()        # ids of valid auctions so far
    for b in range(batches):
        n = rng.randrange(300, 2001) if b < WARMUP_BATCHES else TIMED_RECORDS
        recs, valid_recs, rescrape = [], [], 0
        dates = set()
        batch_new = []
        for _ in range(n):
            r = rng.random()
            if r < 0.20 and known:
                # re-scraped correction of an earlier auction: same id and
                # day, a later time, changed counts / mileage / bids
                ent = known[rng.randrange(len(known))]
            elif r < 0.23 and batch_new:
                # a repeat within the batch (keep-newest inside Silver)
                ent = batch_new[rng.randrange(len(batch_new))]
            else:
                ent = None
            if ent is not None:
                aid, day, mk, md, yr, vin, cs, user = ent
                # strictly later than every earlier version, same day: the
                # newest version is never tied
                t = last_time[aid] + dt.timedelta(minutes=rng.randrange(1, 31))
                if t.date() != day.date():
                    ent = None
                valid = True
            if ent is None:
                aid = f"{next_id:06d}{rng.choice('ABCDEFGHJKLMNPQRSTUVWXYZ')}"
                next_id += 1
                day = EPOCH + dt.timedelta(days=2 * b + rng.randrange(5))
                mk = rng.choice(sorted(MAKES))
                md = rng.choice(MAKES[mk])
                yr = rng.randrange(1965, 2024)
                vin = f"VIN{rng.randrange(16**12):012X}"
                cs = rng.choice(CITIES)
                user = f"user{rng.randrange(5000)}"
                t = day + dt.timedelta(minutes=rng.randrange(0, 12 * 60))
                valid = rng.random() >= 0.125
            views = rng.randrange(100, 50_000) if rng.random() > 0.05 else None
            watchers = rng.randrange(0, 2_000) if rng.random() > 0.05 else None
            mileage_raw, mileage = _mileage(rng)
            url, rec = _record(rng, aid, t, mk, md, yr, vin, views, watchers,
                               mileage_raw, valid, cs, user)
            recs.append((url, rec))
            if valid:
                last_time[aid] = t
                valid_recs.append((aid, t, views or 0, mileage))
                dates.add(day.strftime("%Y-%m-%d"))
                if aid not in seen:
                    seen.add(aid)
                    batch_new.append((aid, day, mk, md, yr, vin, cs, user))
            else:
                rescrape += 1
        known.extend(batch_new)
        model.apply(valid_recs)
        bdir = os.path.join(out, f"batch_{b:03d}")
        os.makedirs(bdir, exist_ok=True)
        # split the batch over the two envelopes; a url repeated inside one
        # map object would collapse to one key, so repeats go to the list
        map_body, list_body = {}, []
        map_share = rng.choice([0.0, 0.5, 1.0])
        for url, rec in recs:
            if url not in map_body and rng.random() < map_share:
                map_body[url] = dict(rec, auction_url=rng.choice([None, "ignored"]))
            else:
                list_body.append(rec)
        if map_body:
            _dump(os.path.join(bdir, "map.json"), map_body)
        if list_body:
            _dump(os.path.join(bdir, "list.json"), list_body)
        st = model.state()
        st.update({"batch": f"batch_{b:03d}", "records": n, "rescrape": rescrape,
                   "dates": sorted(dates)})
        truth["batches"].append(st)
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f, indent=1, sort_keys=True)
    return truth


def _dump(path, obj):
    with open(path, "w") as f:
        json.dump(obj, f, separators=(",", ":"))

