"""The generator is deterministic per seed and counts what it emits."""

import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import catalog_gen  # noqa: E402
import gen  # noqa: E402


def read_drops(root, manifest, kind):
    out = []
    for d in manifest["drops"]:
        with open(os.path.join(root, d[kind]), encoding="utf-8") as f:
            out.append([json.loads(line) for line in f])
    return out


class Generator(unittest.TestCase):
    def generate(self, workload, seed, seconds=5):
        root = tempfile.mkdtemp()
        self.addCleanup(lambda: __import__("shutil").rmtree(root))
        return root, gen.generate(workload, seed, seconds, root)

    def test_same_seed_same_bytes(self):
        for w in gen.SHAPES:
            a, ma = self.generate(w, 7)
            b, mb = self.generate(w, 7)
            self.assertEqual(ma["drops"], mb["drops"])
            for d in ma["drops"]:
                for kind in ("log", "cdc", "dim"):
                    with open(os.path.join(a, d[kind]), "rb") as fa, \
                            open(os.path.join(b, d[kind]), "rb") as fb:
                        self.assertEqual(fa.read(), fb.read())

    def test_other_seed_other_inputs(self):
        _, ma = self.generate("lakehouse_backlog", 1)
        _, mb = self.generate("lakehouse_backlog", 2)
        self.assertNotEqual(ma["expected"], mb["expected"])

    def test_counts_match_what_was_written(self):
        for w in gen.SHAPES:
            root, m = self.generate(w, 3)
            logs, cdcs = read_drops(root, m, "log"), read_drops(root, m, "cdc")
            dims = read_drops(root, m, "dim")
            browse = [r for drop in logs for r in drop if r["logtype"] == "browselog"]
            logins = [r for drop in cdcs for r in drop
                      if r["database"] == "lakehousedb" and r["table"] == "mc_user_login"]
            e = m["expected"]
            self.assertEqual(e["browse_ods"], len(browse))
            self.assertEqual(e["browse_dws"], sum("userId" in r["data"] for r in browse))
            self.assertEqual(e["login_ods"], len(logins))
            self.assertEqual(e["login_dws"], sum("user_id" in r["data"] for r in logins))
            self.assertEqual(e["browse_in"], sum(len(d) for d in logs))
            self.assertEqual(e["dim_updates"], sum(len(d) for d in dims))
            for d, lg, cd, dm in zip(m["drops"], logs, cdcs, dims):
                self.assertEqual(d["records"], len(lg) + len(cd) + len(dm))
                self.assertEqual(d["dim_updates"], len(dm))
                self.assertEqual(d["bytes"], sum(os.path.getsize(os.path.join(root, d[k]))
                                                 for k in ("log", "cdc", "dim")))
                # fact CDC carries no dim update; dim updates touch the product dims only
                self.assertFalse(any(r["table"].startswith(("mc_product", "mc_member")) for r in cd))
                self.assertTrue(all(r["table"] in ("mc_product_info", "mc_product_category")
                                    for r in dm))
                b = [r for r in lg if r["logtype"] == "browselog"]
                self.assertEqual(d["browse_ods"], len(b))
                self.assertEqual(d["browse_dws"], sum("userId" in r["data"] for r in b))
                times = [int(r["data"]["logTime"]) for r in b if "userId" in r["data"]]
                self.assertEqual(d["max_event_ms"], max(times, default=0))
            self.assertEqual(sum(d["records"] for d in m["drops"]),
                             e["browse_in"] + sum(len(d) for d in cdcs) + e["dim_updates"])
            self.assertGreater(e["dim_updates"], 0)

    def test_shares_and_late_events(self):
        root, m = self.generate("lakehouse_trickle", 5, seconds=20)
        e = m["expected"]
        self.assertAlmostEqual(e["log_dropped"] / e["browse_in"], gen.ODS_DROP, delta=0.03)
        self.assertAlmostEqual(1 - e["browse_dws"] / e["browse_ods"], gen.NULL_USER, delta=0.02)
        self.assertGreater(e["late"], 0)
        # a late event is released after its creation period but inside the
        # DM watermark, even after DWD truncates event time to seconds
        sh = gen.SHAPES["lakehouse_trickle"]
        self.assertLess(sh["speed"] * (sh["late_max_ms"] + sh["period_ms"]) + 1000, 30000)
        for d, drop in zip(m["drops"], read_drops(root, m, "log")):
            for r in drop:
                if r["logtype"] == "browselog":
                    created = int(r["data"]["browseProductUrl"].rsplit("c=", 1)[1])
                    self.assertLess(created, d["due_ms"])
                    self.assertLessEqual(d["due_ms"] - created,
                                         sh["late_max_ms"] + sh["period_ms"])

    def test_backlog_has_no_late_events(self):
        _, m = self.generate("lakehouse_backlog", 5)
        self.assertEqual(m["expected"]["late"], 0)


class CatalogFixture(unittest.TestCase):
    def test_same_seed_same_tables_other_seed_other_tables(self):
        a, b, c = (catalog_gen.tables(s) for s in (4, 4, 5))
        self.assertEqual(set(a), set(catalog_gen.ROWS))
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)
            self.assertEqual(a[name].num_rows, catalog_gen.ROWS[name])
        self.assertFalse(a["lineitem"].equals(c["lineitem"]))

    def test_near_duplicates_are_planted(self):
        texts = catalog_gen.tables(4)["documents"].column("text").to_pylist()
        dups = [t for t in texts if t.endswith(" dup")]
        self.assertGreater(len(dups), 0.02 * len(texts))
        self.assertTrue(all(t[:-4] in texts for t in dups))


if __name__ == "__main__":
    unittest.main()
