"""Expected answers, computed from the generator's ledger state.

Every function here takes a `chaingen.ChainState` (the main chain as the
ledger sees it at one point of the run) and returns what the explorer must
answer at that point, in the row shape the harness collects.
"""

import json

from chaingen import STATS_EPOCH, TX_FEE, emission


def unspent(st):
    return [b for i, b in st.boxes.items() if i not in st.spent]


def in_mode(st, box, mode):
    spent = box.box_id in st.spent
    return mode == "any" or (mode == "spent") == spent


def box_rows(st, boxes, mode):
    return sorted([b.box_id, b.value] for b in boxes if in_mode(st, b, mode))


def answer(st, read, addresses):
    """Expected rows for one read step (box lookups come back sorted)."""
    op = read["op"]
    if op == "blockById":
        return [[i, h] for h, i, _ in st.blocks if i == read["id"]]
    if op == "boxesByIds":
        return box_rows(st, [st.boxes[i] for i in read["ids"] if i in st.boxes],
                        read["mode"])
    if op == "boxesByErgoTreeHash":
        return box_rows(st, [b for b in st.boxes.values()
                             if b.thash == read["hash"]], read["mode"])
    if op == "boxesByAddress":
        return box_rows(st, [b for b in st.boxes.values()
                             if addresses[b.tree] == read["address"]],
                        read["mode"])
    if op == "boxesByTokenId":
        return box_rows(st, [b for b in st.boxes.values()
                             if any(t == read["tokenId"] for t, _ in b.tokens)],
                        read["mode"])
    if op in ("topAddressesByValue", "topAddressesByUtxoCount"):
        agg = {}
        for b in unspent(st):
            v, n = agg.get(b.thash, (0, 0))
            agg[b.thash] = (v + b.value, n + 1)
        pick = 0 if op == "topAddressesByValue" else 1
        rows = sorted(([h, vn[pick]] for h, vn in agg.items()),
                      key=lambda r: (-r[1], r[0]))
        return rows[:read["k"]]
    if op == "epochRollup":
        ep = {}
        for h, _, blk in st.blocks:
            txs = blk["transactions"]["transactions"]
            fee = sum(o["value"] for t in txs for o in t["outputs"]
                      if o["ergoTree"] == read["fee_tree"])
            e = ep.setdefault(h // STATS_EPOCH, [0, 0, 0, 0])
            e[0] += 1
            e[1] += len(txs)
            e[2] += fee
            e[3] = max(e[3], h)
        return [[e] + v for e, v in sorted(ep.items())]
    if op == "lastBlocks":
        return [[i, h] for h, i, _ in reversed(st.blocks[-read["n"]:])]
    raise ValueError(f"unknown read op {op}")


def normalise(read, rows):
    """The harness's rows in the ledger's shape: box lookups sorted."""
    if read["op"].startswith("boxes"):
        return sorted(rows)
    return rows


def snapshot(st):
    """The final-state part of the ledger after a commit: main chain, row
    counts per table, minted token ids and the unspent box set."""
    return {
        "main_chain": [[h, i] for h, i, _ in st.blocks],
        "counts": dict(st.counts),
        "token_ids": sorted(st.tokens),
        "utxo": sorted([b.box_id, b.value] for b in unspent(st)),
    }


def recheck(files, snap, fee_tree):
    """Re-derive the main chain from the emitted JSON lines with a plain JSON
    parser and check it against the ledger snapshot: every user tx conserves
    value, every coinbase mints the emission reward plus the block's fees,
    no box is spent twice, and the unspent set matches. Returns a list of
    problems (empty when the ledger holds)."""
    blocks = {}
    for path in files:
        with open(path) as f:
            for line in f:
                b = json.loads(line)
                blocks[b["header"]["id"]] = b
    tip = min(blocks.values(),
              key=lambda b: (-b["header"]["height"], b["header"]["id"]))
    chain = []
    cur = tip
    while cur is not None:
        chain.append(cur)
        cur = blocks.get(cur["header"]["parentId"])
    chain.reverse()
    problems = []
    if [[b["header"]["height"], b["header"]["id"]] for b in chain] != \
            snap["main_chain"]:
        problems.append("recheck: main chain differs from the ledger")
    utxo = {}
    for b in chain:
        h = b["header"]["height"]
        txs = b["transactions"]["transactions"]
        fees = 0
        for t in txs[:-1]:
            vin = 0
            for i in t["inputs"]:
                if i["boxId"] not in utxo:
                    problems.append(f"recheck: {i['boxId']} spent twice or unknown")
                    continue
                vin += utxo.pop(i["boxId"])
            vout = sum(o["value"] for o in t["outputs"])
            if vin != vout:
                problems.append(f"recheck: tx {t['id']} does not conserve value")
            fees += sum(o["value"] for o in t["outputs"]
                        if o["ergoTree"] == fee_tree)
        cb = txs[-1]
        if cb["inputs"] or sum(o["value"] for o in cb["outputs"]) != \
                emission(h) + fees:
            problems.append(f"recheck: coinbase at {h} breaks the emission schedule")
        if fees != TX_FEE * (len(txs) - 1):
            problems.append(f"recheck: block {h} fees differ from one fee per tx")
        for t in txs:
            for o in t["outputs"]:
                utxo[o["boxId"]] = o["value"]
    if sorted([k, v] for k, v in utxo.items()) != snap["utxo"]:
        problems.append("recheck: unspent set differs from the ledger")
    return problems
