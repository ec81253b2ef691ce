"""Tests of the seeded input generator: the same seed gives byte-identical
inputs, another seed gives other inputs, and what the manifest declares as
planted is what the files hold.

    python3 perfbench/test_gen.py
"""
import collections
import filecmp
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402

WORKLOADS = ("etl_bulk", "etl_jobs", "near_dup")


def shop_id(shop, rec):
    return {"AH": lambda r: r["webshopId"], "JUMBO": lambda r: r["product"]["id"],
            "ALDI": lambda r: r["articleNumber"], "PLUS": lambda r: r["PLP_Str"]["SKU"]}[shop](rec)


def skipped(shop, rec):
    return {"AH": lambda r: r["orderAvailabilityStatus"] != "IN_ASSORTMENT",
            "JUMBO": lambda r: r["product"]["inAssortment"] is False,
            "ALDI": lambda r: r["isSoldOut"],
            "PLUS": lambda r: not r["PLP_Str"]["IsAvailable"]}[shop](rec)


class GeneratorTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.saved = dict(gen.BULK), dict(gen.JOBS), dict(gen.NEAR)
        # smaller than the benchmark's inputs, same shares
        gen.BULK["lines_per_shop"] = 3000
        gen.JOBS["base_per_shop"] = 200
        gen.JOBS["batches_per_shop"] = 3
        gen.NEAR["docs"] = 600

    @classmethod
    def tearDownClass(cls):
        gen.BULK.update(cls.saved[0])
        gen.JOBS.update(cls.saved[1])
        gen.NEAR.update(cls.saved[2])
        cls.tmp.cleanup()

    def make(self, workload, seed, tag):
        out = os.path.join(self.tmp.name, f"{workload}-{seed}-{tag}")
        if not os.path.exists(out):
            gen.generate(workload, seed, out)
        with open(os.path.join(out, "manifest.json")) as f:
            return out, json.load(f)

    def test_same_seed_gives_identical_bytes(self):
        for w in WORKLOADS:
            a, _ = self.make(w, 7, "a")
            b, _ = self.make(w, 7, "b")
            names = sorted(os.listdir(a))
            self.assertEqual(names, sorted(os.listdir(b)))
            match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
            self.assertEqual((mismatch, errors), ([], []), w)

    def test_other_seed_gives_other_inputs(self):
        for w in WORKLOADS:
            a, _ = self.make(w, 7, "a")
            c, _ = self.make(w, 8, "a")
            names = sorted(n for n in os.listdir(a) if n != "manifest.json")
            _, mismatch, _ = filecmp.cmpfiles(a, c, names, shallow=False)
            self.assertEqual(sorted(mismatch), names, w)

    def test_bulk_plants_what_it_declares(self):
        out, man = self.make("etl_bulk", 7, "a")
        n = gen.BULK["lines_per_shop"]
        for shop in gen.SHOPS:
            facts = man["shops"][shop]
            malformed, skips, promos = 0, 0, 0
            ids = collections.Counter()
            with open(os.path.join(out, f"{shop}.jsonl"), encoding="utf-8") as f:
                lines = f.read().splitlines()
            self.assertEqual(len(lines), n)
            for line in lines:
                try:
                    rec = json.loads(line)
                except json.JSONDecodeError:
                    malformed += 1
                    continue
                if skipped(shop, rec):
                    skips += 1
                else:
                    ids[shop_id(shop, rec)] += 1
            self.assertEqual(malformed, facts["malformed"], shop)
            self.assertEqual(skips, facts["skipped"], shop)
            self.assertEqual(sum(c - 1 for c in ids.values()), facts["duplicates"], shop)
            self.assertEqual(len(ids), facts["expected_out"], shop)
            promos = sum(facts["promos"].values())
            # declared shares hold within four standard deviations
            for share, got in ((gen.BULK["malformed_share"], malformed),
                               (gen.BULK["skip_share"], skips),
                               (gen.BULK["dup_share"], facts["duplicates"])):
                sd = (n * share * (1 - share)) ** 0.5
                self.assertLess(abs(got - n * share), 4 * sd + 1, shop)
            valid = facts["expected_out"]
            sd = (valid * 0.3 * 0.7) ** 0.5
            self.assertLess(abs(promos - valid * gen.BULK["promo_share"]), 4 * sd, shop)
            self.assertTrue(all(facts["promos"][k] > 0 for k in gen.PROMO_KINDS), shop)

    def test_jobs_declare_changed_and_total_rows(self):
        out, man = self.make("etl_jobs", 7, "a")
        prev = {}
        for shop in gen.SHOPS:
            with open(os.path.join(out, f"base_{shop}.jsonl"), encoding="utf-8") as f:
                prev[shop] = {shop_id(shop, r): r for r in map(json.loads, f)}
        total = man["base_total"]
        self.assertEqual(total, sum(len(v) for v in prev.values()))
        for job in man["jobs"]:
            shop = job["shop"]
            with open(os.path.join(out, job["file"]), encoding="utf-8") as f:
                rows = {shop_id(shop, r): r for r in map(json.loads, f)}
            self.assertEqual(len(rows), job["lines"])
            changed = sum(1 for k, r in rows.items() if prev[shop].get(k) != r)
            self.assertEqual(changed, job["expected_changed"])
            total += len(rows) - len(prev[shop])
            self.assertEqual(total, job["expected_total"])
            prev[shop] = rows

    def test_near_dup_plants_clusters_and_hot_phrases(self):
        import pyarrow.parquet as pq
        out, man = self.make("near_dup", 7, "a")
        docs = pq.read_table(os.path.join(out, "documents.parquet")).to_pydict()
        self.assertEqual(docs["doc_id"], list(range(man["docs"])))
        text = docs["text"]

        def shingles(t):
            w = t.split()
            return {tuple(w[i:i + 3]) for i in range(len(w) - 2)}

        self.assertGreaterEqual(man["clustered_docs"], gen.NEAR["cluster_share"] * man["docs"])
        for a, b in man["planted_pairs"]:
            sa, sb = shingles(text[a]), shingles(text[b])
            self.assertGreater(len(sa & sb) / len(sa | sb), 0.3, (a, b))
        for (phrase, _), count in zip(gen.NEAR["hot"], man["hot_phrase_docs"]):
            self.assertEqual(sum(phrase in t for t in text), count, phrase)


if __name__ == "__main__":
    unittest.main()
