"""Tests of the seeded input generator: python3 -m unittest discover perfbench/tests"""
import json
import os
import re
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen  # noqa: E402

SHAPE = {"concepts": 76, "triples": 195, "predicates": 138, "docs": 400,
         "decoys": 4, "files": 2}


def bounded(needle, hay):
    return re.search(f"(^|[^A-Za-z0-9]){re.escape(needle)}($|[^A-Za-z0-9])", hay)


class GenTest(unittest.TestCase):
    def test_same_seed_gives_byte_identical_files(self):
        roots = [tempfile.mkdtemp(), tempfile.mkdtemp(), tempfile.mkdtemp()]
        try:
            dirs = [gen.ensure(roots[0], 7, SHAPE), gen.ensure(roots[1], 7, SHAPE),
                    gen.ensure(roots[2], 8, SHAPE)]
            for rel in ("golden/Node_Details.json", "golden/Edge_Details.json",
                        "ontology.json", "aliases/part-00000.parquet",
                        "aliases_ambiguous/part-00000.parquet",
                        "docs/part-00000.parquet", "docs/part-00001.parquet"):
                data = [open(os.path.join(d, rel), "rb").read() for d in dirs]
                self.assertEqual(data[0], data[1], rel)
            self.assertNotEqual(
                open(os.path.join(dirs[0], "golden/Edge_Details.json"), "rb").read(),
                open(os.path.join(dirs[2], "golden/Edge_Details.json"), "rb").read())
        finally:
            for r in roots:
                shutil.rmtree(r)

    def test_documents_are_pure_in_seed_and_index(self):
        o = gen.ontology(7, SHAPE)
        a, b = gen.DocMaker(7, o), gen.DocMaker(8, o)
        for i in (0, 1, 194, 999):
            self.assertEqual(a.doc(i), gen.DocMaker(7, o).doc(i))
        self.assertTrue(any(a.doc(i) != b.doc(i) for i in range(50)))

    def test_ontology_sizes_and_coverage(self):
        o = gen.ontology(3, SHAPE)
        norm = {(s, p.strip().lower().replace(" ", "_"), ob) for s, p, ob in o["triples"]}
        self.assertEqual(len(set(o["names"])), 76)
        self.assertEqual(len(o["triples"]), 195)
        self.assertEqual(len(norm), 195)
        self.assertEqual(len({p.lower() for p in o["preds"]}), 138)
        self.assertTrue(all(any(n in (t[0], t[2]) for t in o["triples"]) for n in o["names"]))
        self.assertEqual(len(o["decoys"]), 4)

    def test_no_alias_in_predicates_or_fixed_text(self):
        o = gen.ontology(5, dict(SHAPE, concepts=400, triples=1600, decoys=6))
        aliases = [r[0] for r in gen.alias_rows(o, decoys=True)]
        fixed = gen.FILLERS + gen.GENERIC_PREDS + [gen.DECOY_FILLER.format("")] + \
            [t.format(s="", p="", o="") for t in gen.TEMPLATES]
        for a in aliases:
            for t in o["preds"] + fixed:
                self.assertFalse(bounded(a, t), (a, t))
        for p in o["preds"]:
            for t in gen.FILLERS + [gen.DECOY_FILLER.format("")]:
                self.assertFalse(bounded(p, t), (p, t))
        self.assertNotIn(gen.cc_bait(o).lower(), aliases)
        for decoys in (False, True):
            canon = {}
            for a, c, _, _ in gen.alias_rows(o, decoys):
                canon.setdefault(a, set()).add(c)
            self.assertEqual(any(len(cs) > 1 for cs in canon.values()), decoys)

    def test_corpus_of_T_docs_carries_every_triple_verbatim(self):
        o = gen.ontology(9, SHAPE)
        m = gen.DocMaker(9, o)
        texts = [sp[1] for i in range(195) for sp in m.doc(i)[1]]
        for s, p, ob in o["triples"]:
            self.assertTrue(any(f"{s} {p} {ob}" in t for t in texts), (s, p, ob))


if __name__ == "__main__":
    unittest.main()
