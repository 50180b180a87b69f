"""Seeded chain generator and the ledger that is kept beside it.

The generator writes canonical RawBlock JSON lines (the shape that
`graft.chain.BlockSource.fromJsonLines` decodes). It shares no code with the
program or its test fixtures: ids, scripts, register encodings, addresses
and the emission schedule are all computed here from first principles, so a
change to the program cannot change the inputs or the expected answers.

Make-up of a chain (see README.md for the figures a run uses):
  * every block carries a coinbase (last tx) that mints the emission reward
    plus the block's fees, and 3-6 user txs that each spend 1-3 boxes and
    conserve value (inputs = outputs + one fee output);
  * output scripts follow a Zipf-skewed popularity over a script universe,
    so a few "supernode" scripts hold a large share of all boxes;
  * some txs mint a token (tokenId = first input box id, EIP-4 registers),
    token-bearing inputs carry their tokens to the tx's first output, some
    outputs carry registers and some txs carry data inputs;
  * forks are scheduled: a losing branch extends the tip, then a longer
    winning branch from the same parent arrives.

The ledger follows the main chain: winning block ids, every box with its
value, script hash and tokens, which boxes are spent, per-table row counts,
and the expected answer to every lookup and stats call.
"""

import bisect
import hashlib
import json
import random

COINS_IN_ONE_ERG = 1_000_000_000
TX_FEE = 1_000_000
MIN_SPEND = 100 * TX_FEE
# input make-up (README.md "Inputs")
SCRIPTS = 2000
ZIPF_S = 1.1
MIN_TXS, MAX_TXS = 3, 6
STATS_EPOCH = 1024
GENESIS_PARENT = "0" * 64
B58 = "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"


def sha256_hex(s):
    return hashlib.sha256(s.encode()).hexdigest()


def tree_hash(tree_hex):
    """Script hash as the explorer keys it: sha256 of the tree bytes."""
    return hashlib.sha256(bytes.fromhex(tree_hex)).hexdigest()


def base58(data):
    n = int.from_bytes(data, "big")
    out = ""
    while n > 0:
        n, r = divmod(n, 58)
        out = B58[r] + out
    pad = len(data) - len(data.lstrip(b"\0"))
    return "1" * pad + out


def address_of(tree_hex):
    """Mainnet address: P2PK for `0008cd` + 33-byte key trees, else P2S."""
    if tree_hex.startswith("0008cd") and len(tree_hex) == 72:
        payload = bytes([0x01]) + bytes.fromhex(tree_hex[6:])
    else:
        payload = bytes([0x03]) + bytes.fromhex(tree_hex)
    check = hashlib.blake2b(payload, digest_size=32).digest()[:4]
    return base58(payload + check)


def vlq(n):
    out = bytearray()
    while n & ~0x7F:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return out.hex()


def zigzag(n):
    return (n << 1) ^ (n >> 63)


def sigma_int(n):
    return "04" + vlq(zigzag(n))


def sigma_long(n):
    return "05" + vlq(zigzag(n))


def sigma_bytes(b):
    return "0e" + vlq(len(b)) + b.hex()


def emission(h):
    """Per-block emission (Ergo schedule without EIP-27, heights < 777217)."""
    fixed_rate_period, epoch_len = 525_600, 64_800
    fixed_rate, reduction = 75 * COINS_IN_ONE_ERG, 3 * COINS_IN_ONE_ERG
    if h < fixed_rate_period:
        return fixed_rate
    epoch = 1 + (h - fixed_rate_period) // epoch_len
    return max(fixed_rate - reduction * epoch, 0)


class Box:
    __slots__ = ("box_id", "value", "tree", "thash", "tokens")

    def __init__(self, box_id, value, tree, tokens):
        self.box_id = box_id
        self.value = value
        self.tree = tree
        self.thash = tree_hash(tree)
        self.tokens = tokens  # list of (tokenId, amount)


class ChainState:
    """Main-chain state, copied at a fork point to grow competing branches."""

    def __init__(self):
        self.blocks = []      # main chain: (height, blockId, block json dict)
        self.boxes = {}       # boxId -> Box, every main-chain output
        self.spent = set()    # boxIds spent by main-chain inputs
        self.pool = []        # spendable boxIds (unspent, from earlier blocks)
        self.counts = dict.fromkeys(
            ["blocks", "txs", "outputs", "inputs", "assets", "data_inputs",
             "registers", "tokens"], 0)
        self.tokens = []      # minted token ids, in mint order

    def copy(self):
        c = ChainState()
        c.blocks = list(self.blocks)
        c.boxes = dict(self.boxes)
        c.spent = set(self.spent)
        c.pool = list(self.pool)
        c.counts = dict(self.counts)
        c.tokens = list(self.tokens)
        return c

    @property
    def tip(self):
        return self.blocks[-1]

    def height(self):
        return self.blocks[-1][0] if self.blocks else 0


class Generator:
    """Grows a seeded chain. `state` is the main chain as the ledger sees it."""

    def __init__(self, seed):
        self.seed = seed
        self.rng = random.Random(seed)
        trees = []
        for k in range(SCRIPTS):
            if k % 3 == 0:  # P2PK: `0008cd` + a 33-byte compressed key
                trees.append("0008cd02" + sha256_hex(f"{seed}:pk:{k}"))
            else:  # segregated tree: one SInt constant, then expression bytes
                trees.append("1001" + sigma_int(k) +
                             sha256_hex(f"tmpl:{k % 7}")[:32])
        self.trees = trees
        weights = [1.0 / (k + 1) ** ZIPF_S for k in range(len(trees))]
        total = sum(weights)
        acc, self.cum = 0.0, []
        for w in weights:
            acc += w / total
            self.cum.append(acc)
        self.miner_pks = ["02" + sha256_hex(f"{seed}:miner:{i}")
                          for i in range(8)]
        self.state = ChainState()
        self.salt_n = 0
        self.fixed_shape = False

    def zipf_tree(self, rng):
        i = bisect.bisect_left(self.cum, rng.random())
        return self.trees[min(i, len(self.trees) - 1)]

    def _output(self, box_id, value, tree, h, tokens, regs):
        return {"boxId": box_id, "value": value, "creationHeight": h,
                "ergoTree": tree,
                "assets": [{"tokenId": t, "amount": a} for t, a in tokens],
                "additionalRegisters": regs}

    def make_block(self, st, h, parent, salt, rng):
        """One block at height h on top of `st` (mutated to include it)."""
        block_id = sha256_hex(f"{self.seed}:blk:{salt}:{h}")
        txs, new_boxes, fees = [], [], 0
        # timed blocks have a fixed shape, so that every seed's batch writes
        # the same number of txs and rows to all eight entity tables
        fixed = self.fixed_shape
        n_user = min(MAX_TXS if fixed else rng.randint(MIN_TXS, MAX_TXS),
                     len(st.pool) // 3)
        for i in range(n_user):
            tx_id = sha256_hex(f"{self.seed}:tx:{salt}:{h}:{i}")
            n_in = rng.randint(1, 3)
            ins, total = [], 0
            # dust is merged with further inputs until the tx can pay its fee
            while (len(ins) < n_in or total < MIN_SPEND) and st.pool:
                j = rng.randrange(len(st.pool))
                st.pool[j], st.pool[-1] = st.pool[-1], st.pool[j]
                ins.append(st.pool.pop())
                total += st.boxes[ins[-1]].value
            in_boxes = [st.boxes[b] for b in ins]
            carried = {}
            for b in in_boxes:
                for t, a in b.tokens:
                    carried[t] = carried.get(t, 0) + a
            spendable = total - TX_FEE
            n_out = rng.randint(1, 3)
            weights = [rng.randint(1, 9) for _ in range(n_out)]
            values = [spendable * w // sum(weights) for w in weights]
            values[-1] += spendable - sum(values)
            mint = (i == 0) if fixed else rng.random() < 0.08
            outs = []
            for k, v in enumerate(values):
                box_id = sha256_hex(f"{self.seed}:box:{tx_id}:{k}")
                tree = self.zipf_tree(rng)
                tokens, regs = [], {}
                if k == 0:
                    tokens = sorted(carried.items())
                    if mint:
                        tokens.append((ins[0], rng.randint(1, 10**9)))
                        regs = {"R4": sigma_bytes(f"tok{h}x{i}".encode()),
                                "R5": sigma_bytes(b"bench token"),
                                "R6": sigma_int(rng.randint(0, 9))}
                if not regs and rng.random() < 0.15:
                    regs = {"R4": sigma_long(rng.randint(0, 10**12)),
                            "R5": sigma_bytes(bytes.fromhex(
                                sha256_hex(box_id)[:16]))}
                outs.append((self._output(box_id, v, tree, h, tokens, regs),
                             Box(box_id, v, tree, tokens)))
            fee_id = sha256_hex(f"{self.seed}:box:{tx_id}:fee")
            outs.append((self._output(fee_id, TX_FEE, FEE_TREE, h, [], {}),
                         Box(fee_id, TX_FEE, FEE_TREE, [])))
            fees += TX_FEE
            data_ins = []
            if st.pool and (rng.random() < 0.2 or (fixed and i == 0)):
                data_ins = [st.pool[rng.randrange(len(st.pool))]]
            txs.append({
                "id": tx_id,
                "inputs": [{"boxId": b, "spendingProof": {
                    "proofBytes": sha256_hex(f"proof:{b}")[:48],
                    "extension": "{}"}} for b in ins],
                "dataInputs": [{"boxId": b} for b in data_ins],
                "outputs": [o for o, _ in outs],
                "size": 200 + 40 * (len(ins) + len(outs))})
            st.spent.update(ins)
            st.counts["inputs"] += len(ins)
            st.counts["data_inputs"] += len(data_ins)
            for o, box in outs:
                st.counts["assets"] += len(o["assets"])
                st.counts["registers"] += len(o["additionalRegisters"])
                new_boxes.append(box)
            if mint:
                st.counts["tokens"] += 1
                st.tokens.append(ins[0])
        miner = self.miner_pks[rng.randrange(len(self.miner_pks))]
        cb_tx = sha256_hex(f"{self.seed}:cbtx:{salt}:{h}")
        cb_id = sha256_hex(f"{self.seed}:box:{cb_tx}:0")
        cb_tree = "0008cd" + miner
        cb_value = emission(h) + fees
        txs.append({"id": cb_tx, "inputs": [], "dataInputs": [],
                    "outputs": [self._output(cb_id, cb_value, cb_tree, h, [], {})],
                    "size": 200})
        new_boxes.append(Box(cb_id, cb_value, cb_tree, []))
        st.counts["blocks"] += 1
        st.counts["txs"] += len(txs)
        st.counts["outputs"] += len(new_boxes)
        for b in new_boxes:
            st.boxes[b.box_id] = b
        # boxes become spendable from the next block on
        st.pool.extend(b.box_id for b in new_boxes)
        blk = {
            "header": {
                "id": block_id, "parentId": parent, "version": 2, "height": h,
                "nBits": 117_811_961, "difficulty": 1_000_000 + h,
                "timestamp": 1_600_000_000_000 + h * 120_000 +
                rng.randint(0, 60_000),
                "stateRoot": sha256_hex(f"state:{block_id}"),
                "adProofsRoot": sha256_hex(f"adp:{block_id}"),
                "transactionsRoot": sha256_hex(f"txr:{block_id}"),
                "extensionHash": sha256_hex(f"ext:{block_id}"),
                "minerPk": miner, "w": sha256_hex(f"w:{block_id}"),
                "n": sha256_hex(f"n:{block_id}")[:16], "d": "0",
                "votes": "000000"},
            "transactions": {"headerId": block_id, "transactions": txs},
            "extension": {"headerId": block_id,
                          "digest": sha256_hex(f"extd:{block_id}"),
                          "fields": "{}"},
            "adProofs": None,
            "size": 1000 + sum(t["size"] for t in txs)}
        st.blocks.append((h, block_id, blk))
        return blk

    def extend(self, n, salt="m"):
        """Append n main-chain blocks; returns their JSON dicts."""
        out = []
        for _ in range(n):
            st = self.state
            h = st.height() + 1
            parent = st.tip[1] if st.blocks else GENESIS_PARENT
            out.append(self.make_block(st, h, parent, salt, self.rng))
        return out

    def fork(self, depth):
        """A losing branch of `depth` blocks on the tip, then a winning branch
        of `depth + 1` blocks from the same parent. The ledger follows the
        winner. Returns (loser blocks, winner blocks)."""
        self.salt_n += 1
        base = self.state
        h0, parent = base.height(), base.tip[1]
        loser_state = base.copy()
        loser = [self.make_block(loser_state, h0 + 1 + k,
                                 loser_state.tip[1] if k else parent,
                                 f"l{self.salt_n}", self.rng)
                 for k in range(depth)]
        winner = []
        for k in range(depth + 1):
            winner.append(self.make_block(base, h0 + 1 + k,
                                          base.tip[1] if k else parent,
                                          f"w{self.salt_n}", self.rng))
        return loser, winner


FEE_TREE = "1001" + sigma_int(0) + sha256_hex("bench-fee-contract")[:32]


def write_lines(path, blocks):
    """Writes one block per line; returns the bytes written."""
    text = "".join(json.dumps(b, separators=(",", ":")) + "\n" for b in blocks)
    with open(path, "w") as f:
        f.write(text)
    return len(text.encode())
