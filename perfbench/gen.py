"""Seeded input generator for the benchmark.

Everything the program under test reads is written here, from one integer
seed: raw shop JSON-lines in each adapter's raw schema (etl_bulk, etl_jobs)
and a `documents` parquet table of product texts with planted
near-duplicate clusters (near_dup). Each
workload directory gets a `manifest.json` that declares what was planted, so
the benchmark can check the program's outputs against it.

The same seed gives byte-identical files; `test_gen.py` proves it.

    python3 gen.py <workload> <seed> <out_dir>
"""
import json
import os
import random
import sys

# Declared shares of the etl_bulk input, per shop file.
BULK = {
    "lines_per_shop": 10000,
    "promo_share": 0.30,      # of valid rows; split over PROMO_KINDS
    "malformed_share": 0.01,  # truncated JSON lines -> K4 error sink
    "dup_share": 0.02,        # rows repeating an earlier id, worse content
    "skip_share": 0.03,       # rows the shop's skip rule drops
}
# etl_jobs: a pre-loaded catalog per shop, then batches that each restate
# the shop's catalog with ~10% of rows changed and a few new ones.
JOBS = {
    "base_per_shop": 600,
    "batches_per_shop": 8,
    "change_share": 0.10,
    "new_per_batch": 10,
    "promo_share": 0.30,
}
# near_dup: documents, planted clusters and hot (boilerplate) phrases.
NEAR = {
    "docs": 2000,
    "cluster_share": 0.10,    # of docs that sit in a planted cluster
    "cluster_sizes": (2, 3, 4),
    "min_words": 24,
    "max_words": 40,
    # (phrase, share of docs carrying it); the last one exceeds the pair
    # engine's default 256-doc shingle cap at this corpus size
    "hot": (("gratis bezorging vanaf twintig euro", 0.02),
            ("nu met extra spaarpunten voor leden", 0.03),
            ("bekijk ook onze andere aanbiedingen vandaag", 0.15)),
}

SHOPS = ("AH", "JUMBO", "ALDI", "PLUS")
PROMO_KINDS = ("x_for_y", "percentage", "no_price", "plus_free")
ALDI_DATE = "2026-10-12"  # the fixed clock the Aldi adapter runs with

BRANDS = ("Jumbo", "AH", "Aldi", "Plus", "Campina", "Unox", "Calve", "Verkade",
          "Douwe Egberts", "Heineken", "Lay's", "Conimex", "Zwanenberg",
          "Optimel", "Alpro", "Hak", "Bonduelle", "Lipton", "Becel", "Milka")
NOUNS = ("halfvolle melk", "volle yoghurt", "jonge kaas", "roomboter",
         "pindakaas", "hagelslag", "volkoren brood", "pilsener", "cola zero",
         "sinaasappelsap", "koffiebonen", "groene thee", "rookworst",
         "kipfilet", "zalmfilet", "spaghetti", "basmati rijst", "tomatensoep",
         "mayonaise", "chips paprika", "melkchocolade", "stroopwafels",
         "appels elstar", "bananen", "wasmiddel", "toiletpapier", "luiers",
         "kattenvoer", "rode wijn", "havermout", "tofu naturel", "pizza salami")
ADJS = ("biologisch", "light", "extra", "mild", "pittig", "naturel", "klassiek",
        "familieverpakking", "voordeel", "mini", "groot", "vers", "romig")
# raw category strings in the shapes shops send them: exact final names,
# lower-case, '&' / '/' variants, English and unknown ones (fuzzy path)
CATEGORIES = ("Zuivel, eieren, boter", "zuivel", "Zuivel & eieren",
              "Kaas, vleeswaren, tapas", "vlees/vis", "Vlees, vis",
              "Bier en aperitieven", "bier", "Koffie, thee", "koffie en thee",
              "Frisdrank, sappen, siropen, water", "frisdrank",
              "Aardappel, groente, fruit", "groente & fruit", "Bakkerij",
              "brood", "Snoep, chocolade, koek", "snoep", "Huishouden",
              "Drogisterij", "Diepvries", "Pasta, rijst en wereldkeuken",
              "Wijn en bubbels", "wijn", "Huisdier", "Baby en kind",
              "Dairy", "Snacks", "Overig assortiment 12", "Actie artikelen")
# quantity strings as shops send them
UNITS = ("500 g", "1 kg", "1,5 l", "330 ml", "6 stuks", "per stuk", "250 gram",
         "75 cl", "1 liter", "2 x 125 g", "400 gr", "1.5 kilo", "12 st",
         "100 ml", "5 dl")
UNIT_WORDS = ("g", "kg", "l", "ml", "stuks", "stuk", "gram", "cl", "liter",
              "gr", "kilo", "st", "dl", "per kg", "Per Liter", "pak", "doos")


def price(rng):
    return round(rng.uniform(0.49, 14.99), 2)


def promo(rng, kind, pbb):
    """(mechanism text, AH discount label or None) for one promo kind."""
    if kind == "x_for_y":
        n = rng.choice((2, 3, 4))
        tot = round(pbb * n * rng.uniform(0.6, 0.9), 2)
        return f"{n} voor {tot:.2f}", {"code": "DISCOUNT_X_FOR_Y", "count": n,
                                       "price": tot}
    if kind == "percentage":
        p = rng.choice((10, 15, 20, 25, 30, 40, 50))
        return f"{p}% korting", {"code": "DISCOUNT_PERCENTAGE",
                                 "percentage": float(p)}
    if kind == "plus_free":
        n = rng.choice((1, 2, 3))
        return f"{n}+1 gratis", None
    return rng.choice(("2e halve prijs", "gratis bezorging", "Kies & Mix",
                       "bij elke 3 stuks", "vanaf 10 euro")), None


def product(rng, shop, pid, promo_share):
    """One valid raw product plus the facts the manifest counts."""
    brand = rng.choice(BRANDS)
    title = f"{brand} {rng.choice(NOUNS)} {rng.choice(ADJS)}"
    unit = rng.choice(UNITS)
    cat = rng.choice(CATEGORIES)
    pbb = price(rng)
    kind = rng.choice(PROMO_KINDS) if rng.random() < promo_share else None
    mech, label = promo(rng, kind, pbb) if kind else (None, None)
    img = f"https://img.example/{shop.lower()}/{pid}.jpg"
    if shop == "AH":
        rec = {"webshopId": pid, "title": title, "salesUnitSize": unit,
               "unitPriceDescription": f"prijs per kg €{pbb * 2:.2f}",
               "images": [{"url": img, "width": 400},
                          {"url": img + "?w=800", "width": 800}],
               "mainCategory": cat, "brand": brand,
               "priceBeforeBonus": pbb, "currentPrice": pbb,
               "isBonus": kind is not None, "isVirtualBundle": False,
               "orderAvailabilityStatus": "IN_ASSORTMENT"}
        if kind:
            rec.update({"bonusMechanism": mech, "promotionType": "BONUS",
                        "bonusStartDate": "2026-10-12",
                        "bonusEndDate": "2026-10-18"})
            if label:
                rec["discountLabels"] = [label]
    elif shop == "JUMBO":
        cents = int(round(pbb * 100))
        p = {"id": f"J{pid}", "title": title, "brand": brand, "category": cat,
             "subtitle": unit, "image": img, "inAssortment": True,
             "availability": {"isAvailable": True},
             "prices": {"price": cents,
                        "pricePerUnit": {"price": cents * 2, "unit": "kg"}}}
        if kind:
            p["promotions"] = [{"tags": [{"text": mech}]}]
        rec = {"product": p}
    elif shop == "ALDI":
        rec = {"articleNumber": f"A{pid}", "articleId": f"{cat}/sub/{pid}",
               "title": title, "brandName": brand, "salesUnit": unit,
               "shortDescription": f"{title} {unit}",
               "price": f"{pbb:.2f}", "priceFormatted": f"€{pbb:.2f}",
               "basePriceValue": round(pbb * 2, 2),
               "basePriceFormatted": f"€{pbb * 2:.2f}/kg",
               "mainCategory": cat, "isNotAvailable": False,
               "isSoldOut": False, "primaryImage": {"baseUrl": img},
               "promotionDetails": {"promotionDate": ALDI_DATE}}
        if kind == "percentage":
            rec["oldPrice"] = f"{pbb * 1.25:.2f}"
        elif kind:
            rec["priceInfo"] = mech
    else:
        rec = {"PLP_Str": {"SKU": f"P{pid}", "Name": title, "Brand": brand,
                           "ImageURL": img, "OriginalPrice": f"{pbb:.2f}",
                           "Product_Subtitle": f"Per {unit}",
                           "Slug": f"{title.lower().replace(' ', '-')}-{pid}",
                           "Packging": rng.choice(UNIT_WORDS),
                           "IsAvailable": True,
                           "Categories": {"List": [{"Name": cat}]}},
               "BadgeQuantity": "1"}
        if kind:
            rec["PLP_Str"].update({"PromotionLabel": mech,
                                   "PromotionStartDate": "2026-10-12",
                                   "PromotionEndDate": "2026-10-18"})
    return rec, kind


def make_skipped(shop, rec):
    """Flip the field the shop's skip rule drops the row on."""
    if shop == "AH":
        rec["orderAvailabilityStatus"] = "NOT_IN_ASSORTMENT"
    elif shop == "JUMBO":
        rec["product"]["inAssortment"] = False
    elif shop == "ALDI":
        rec["isSoldOut"] = True
    else:
        rec["PLP_Str"]["IsAvailable"] = False
    return rec


def worse_copy(shop, rec):
    """A duplicate of `rec` (same id) without its image: lower quality."""
    dup = json.loads(json.dumps(rec))
    if shop == "AH":
        dup["images"] = []
    elif shop == "JUMBO":
        dup["product"]["image"] = ""
    elif shop == "ALDI":
        dup["primaryImage"] = {"baseUrl": ""}
    else:
        dup["PLP_Str"]["ImageURL"] = ""
    return dup


def dumps(rec):
    return json.dumps(rec, ensure_ascii=False, separators=(",", ":"))


def shop_lines(rng, shop, n, spec, first_id):
    """n raw lines for one shop with the declared shares planted."""
    lines, valid = [], []
    facts = {"lines": n, "malformed": 0, "skipped": 0, "duplicates": 0,
             "promos": {k: 0 for k in PROMO_KINDS}}
    pid = first_id
    for _ in range(n):
        r = rng.random()
        if r < spec["malformed_share"]:
            rec, _ = product(rng, shop, pid, 0.0)
            pid += 1
            s = dumps(rec)
            lines.append(s[:rng.randrange(5, len(s) - 2)])
            facts["malformed"] += 1
        elif r < spec["malformed_share"] + spec["skip_share"]:
            rec, _ = product(rng, shop, pid, 0.0)
            pid += 1
            lines.append(dumps(make_skipped(shop, rec)))
            facts["skipped"] += 1
        elif valid and r < (spec["malformed_share"] + spec["skip_share"]
                            + spec["dup_share"]):
            lines.append(dumps(worse_copy(shop, rng.choice(valid))))
            facts["duplicates"] += 1
        else:
            rec, kind = product(rng, shop, pid, spec["promo_share"])
            pid += 1
            valid.append(rec)
            if kind:
                facts["promos"][kind] += 1
            lines.append(dumps(rec))
    facts["expected_out"] = len(valid)
    return lines, facts


def kernel_inputs(rng, k=400):
    """Strings the scalar kernels are timed on, in the generator's shapes."""
    promos = []
    for _ in range(k):
        pbb = price(rng)
        promos.append([promo(rng, rng.choice(PROMO_KINDS), pbb)[0], pbb])
    units = [[float(rng.choice((0.5, 1, 1.5, 6, 75, 250, 330, 500))),
              rng.choice(UNIT_WORDS)] for _ in range(k)]
    cats = [rng.choice(CATEGORIES) for _ in range(k)]
    return {"promos": promos, "units": units, "categories": cats}


def write_lines(path, lines):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write("\n".join(lines) + "\n")


def gen_etl_bulk(rng, out):
    shops = {}
    for i, shop in enumerate(SHOPS):
        lines, facts = shop_lines(rng, shop, BULK["lines_per_shop"], BULK,
                                  first_id=(i + 1) * 10_000_000)
        write_lines(os.path.join(out, f"{shop}.jsonl"), lines)
        shops[shop] = facts
    return {"shops": shops, "declared": BULK, "aldi_date": ALDI_DATE,
            "kernels": kernel_inputs(rng)}


def retitle(shop, rec, k):
    """Change a product's title (part of the changed-row hash) in batch k."""
    key = {"AH": None, "JUMBO": "product", "ALDI": None, "PLUS": "PLP_Str"}[shop]
    field = "Name" if shop == "PLUS" else "title"
    body = rec[key] if key else rec
    body[field] = body[field].split(" #")[0] + f" #{k}"


def gen_etl_jobs(rng, out):
    """Base catalogs plus batches; jobs run round-robin over the shops."""
    state, jobs = {}, []
    for i, shop in enumerate(SHOPS):
        first = (i + 1) * 10_000_000
        cat = [product(rng, shop, first + j, JOBS["promo_share"])[0]
               for j in range(JOBS["base_per_shop"])]
        state[shop] = {"rows": cat, "next": first + len(cat)}
        write_lines(os.path.join(out, f"base_{shop}.jsonl"),
                    [dumps(r) for r in cat])
    total = sum(len(s["rows"]) for s in state.values())
    base_total = total
    for k in range(1, JOBS["batches_per_shop"] + 1):
        for shop in SHOPS:
            st = state[shop]
            n_change = round(JOBS["change_share"] * len(st["rows"]))
            for idx in rng.sample(range(len(st["rows"])), n_change):
                retitle(shop, st["rows"][idx], k)
            for _ in range(JOBS["new_per_batch"]):
                st["rows"].append(product(rng, shop, st["next"],
                                          JOBS["promo_share"])[0])
                st["next"] += 1
            total += JOBS["new_per_batch"]
            name = f"{shop}_{k}.jsonl"
            write_lines(os.path.join(out, name), [dumps(r) for r in st["rows"]])
            jobs.append({"shop": shop, "file": name, "lines": len(st["rows"]),
                         "expected_changed": n_change + JOBS["new_per_batch"],
                         "expected_total": total})
    return {"base_total": base_total, "jobs": jobs, "declared": JOBS,
            "aldi_date": ALDI_DATE, "kernels": kernel_inputs(rng)}


def word(rng):
    sy = ("ka", "me", "lo", "ri", "van", "ber", "ste", "dor", "pi", "su",
          "mel", "kro", "ta", "zen", "wo", "lin", "gra", "tu", "bo", "nie")
    return "".join(rng.choice(sy) for _ in range(rng.randint(2, 4)))


def gen_near_dup(rng, out):
    vocab = sorted({word(rng) for _ in range(6000)})
    n = NEAR["docs"]

    def doc():
        return [rng.choice(vocab)
                for _ in range(rng.randint(NEAR["min_words"], NEAR["max_words"]))]

    texts, pairs, clustered = [], [], 0
    while len(texts) < n:
        if clustered < NEAR["cluster_share"] * n:
            size = min(rng.choice(NEAR["cluster_sizes"]), n - len(texts))
            base = doc()
            ids = []
            for c in range(size):
                words = list(base)
                if c:  # each variant swaps one word of the base text
                    words[rng.randrange(len(words))] = rng.choice(vocab)
                ids.append(len(texts))
                texts.append(words)
            pairs += [[a, b] for i, a in enumerate(ids) for b in ids[i + 1:]]
            clustered += size
        else:
            texts.append(doc())
    hot_counts = []
    for phrase, share in NEAR["hot"]:
        carriers = [i for i in range(n) if rng.random() < share]
        for i in carriers:
            texts[i] = texts[i] + phrase.split()
        hot_counts.append(len(carriers))
    write_documents(rng, out, [" ".join(t) for t in texts])
    return {"docs": n, "clustered_docs": clustered, "planted_pairs": pairs,
            "hot_phrase_docs": hot_counts, "declared": {
                k: v for k, v in NEAR.items() if k != "hot"}}


def write_documents(rng, out, texts):
    """The `documents` table, typed like the shipped test data."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    pq.write_table(pa.table({
        "doc_id": pa.array(range(len(texts)), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([rng.choice(("en", "en", "en", "de", "fr", "es", "zh"))
                          for _ in texts], pa.string()),
        "source": pa.array([f"src{rng.randrange(20)}" for _ in texts], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        os.path.join(out, "documents.parquet"))


def generate(workload, seed, out):
    """Write one workload's inputs into `out`; returns the manifest."""
    os.makedirs(out, exist_ok=True)
    rng = random.Random(f"{workload}:{seed}")
    if workload == "etl_bulk":
        man = gen_etl_bulk(rng, out)
    elif workload == "etl_jobs":
        man = gen_etl_jobs(rng, out)
    elif workload == "near_dup":
        man = gen_near_dup(rng, out)
    else:
        raise ValueError(f"unknown workload {workload}")
    man.update({"workload": workload, "seed": seed})
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(man, f, sort_keys=True)
    return man


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
