"""Tests that the benchmark's checks can fail: a single wrong box or block
id in the program's outputs must be reported.

    python3 explorerbench/test_checker.py
"""

import copy
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import chaingen  # noqa: E402
import checker  # noqa: E402
import ledger  # noqa: E402


def harness_view(st):
    """What a correct program would hand back for ledger state `st`, in the
    shape the harness writes."""
    ids = {t: set() for t in ("txs", "outputs", "inputs", "assets",
                              "data_inputs", "registers")}
    for _, bid, blk in st.blocks:
        for tx in blk["transactions"]["transactions"]:
            ids["txs"].add(bid)
            ids["outputs"].add(bid)
            if tx["inputs"]:
                ids["inputs"].add(bid)
            if tx["dataInputs"]:
                ids["data_inputs"].add(bid)
            for o in tx["outputs"]:
                if o["assets"]:
                    ids["assets"].add(bid)
                if o["additionalRegisters"]:
                    ids["registers"].add(bid)
    snap = ledger.snapshot(st)
    return {"main_chain": snap["main_chain"],
            "block_ids": {t: sorted(v) for t, v in ids.items()},
            "counts": dict(snap["counts"]),
            "token_ids": list(snap["token_ids"]),
            "utxo": [list(r) for r in snap["utxo"]]}


class CheckerTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.gen = chaingen.Generator(11)
        cls.base = cls.gen.extend(40)
        cls.loser, cls.winner = cls.gen.fork(1)
        cls.st = cls.gen.state
        cls.snap = ledger.snapshot(cls.st)
        cls.final = harness_view(cls.st)

    def test_correct_outputs_pass(self):
        self.assertEqual(checker.check_final(self.final, self.snap), [])

    def test_ledger_missing_one_unspent_box_is_a_mismatch(self):
        snap = copy.deepcopy(self.snap)
        snap["utxo"].pop(len(snap["utxo"]) // 2)
        problems = checker.check_final(self.final, snap)
        self.assertTrue(any("ChainIngest.utxo" in p for p in problems), problems)

    def test_lookup_answer_with_one_extra_box_is_a_mismatch(self):
        tree = self.st.boxes[self.snap["utxo"][0][0]].tree
        step = {"op": "boxesByAddress", "mode": "unspent",
                "address": chaingen.address_of(tree), "kind": "read"}
        want = ledger.answer(self.st, step, {t: chaingen.address_of(t) for t in
                                             {b.tree for b in self.st.boxes.values()}})
        self.assertTrue(want)
        spent = next(i for i in self.st.spent if i in self.st.boxes)
        got = want + [[spent, self.st.boxes[spent].value]]
        self.assertEqual(checker.check_reads([{"answer": want}], [(step, want)]), [])
        self.assertEqual(len(checker.check_reads([{"answer": got}], [(step, want)])), 1)

    def test_main_chain_with_one_loser_id_is_a_mismatch(self):
        loser_id = self.loser[0]["header"]["id"]
        final = copy.deepcopy(self.final)
        final["main_chain"][-2][1] = loser_id
        self.assertTrue(any("main chain" in p
                            for p in checker.check_final(final, self.snap)))
        final = copy.deepcopy(self.final)
        final["block_ids"]["outputs"].append(loser_id)
        problems = checker.check_final(final, self.snap)
        self.assertTrue(any("non-main-chain" in p for p in problems), problems)

    def test_recheck_catches_value_leak_and_wrong_coinbase(self):
        with tempfile.TemporaryDirectory() as d:
            files = []
            for name, blocks in (("base", self.base), ("l", self.loser),
                                 ("w", self.winner)):
                path = os.path.join(d, name + ".json")
                chaingen.write_lines(path, blocks)
                files.append(path)
            self.assertEqual(ledger.recheck(files, self.snap, chaingen.FEE_TREE), [])
            blocks = [json.loads(x) for x in open(files[2])]
            blocks[0]["transactions"]["transactions"][-1]["outputs"][0]["value"] += 1
            chaingen.write_lines(files[2], blocks)
            problems = ledger.recheck(files, self.snap, chaingen.FEE_TREE)
            self.assertTrue(any("emission" in p for p in problems), problems)


if __name__ == "__main__":
    unittest.main()
