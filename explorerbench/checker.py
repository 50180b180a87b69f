"""Checks the program's outputs, as the harness collected them, against the
generator's ledger. Each function returns a list of mismatches; an empty
list means the outputs are correct."""

from ledger import normalise


def check_reads(reads, expected):
    """`reads`: the harness's read records in execution order; `expected`:
    (read step, expected rows) in the same order."""
    problems = []
    for got, (step, want) in zip(reads, expected):
        if "error" in got:
            continue  # counted as a failed operation, not as a wrong answer
        rows = normalise(step, got["answer"])
        if rows != want:
            problems.append(
                f"{step['op']}{'/' + step['mode'] if 'mode' in step else ''}: "
                f"{len(rows)} rows, ledger has {len(want)}; first difference "
                f"{_first_diff(rows, want)}")
    return problems


def _first_diff(a, b):
    sa, sb = {tuple(r) for r in a}, {tuple(r) for r in b}
    extra, missing = sorted(sa - sb), sorted(sb - sa)
    if extra or missing:
        return f"extra {extra[:1]} missing {missing[:1]}"
    return "in order"


def check_final(final, snap):
    """Main chain, entity tables, tokens and the live UTXO set."""
    problems = []
    chain = final["main_chain"]
    if chain != snap["main_chain"]:
        problems.append("main chain ids or heights differ from the ledger")
    heights = [h for h, _ in chain]
    if heights != list(range(1, len(heights) + 1)):
        problems.append("main-chain heights are not contiguous from 1")
    main_ids = {i for _, i in snap["main_chain"]}
    for table, ids in final["block_ids"].items():
        losers = [i for i in ids if i not in main_ids]
        if losers:
            problems.append(f"{table} holds rows of {len(losers)} non-main-chain "
                            f"block(s), e.g. {losers[0]}")
    for table, n in snap["counts"].items():
        if final["counts"].get(table) != n:
            problems.append(f"{table}: {final['counts'].get(table)} rows, "
                            f"ledger has {n}")
    if sorted(final["token_ids"]) != snap["token_ids"]:
        problems.append("minted token ids differ from the ledger")
    utxo = sorted(final["utxo"])
    if utxo != snap["utxo"]:
        problems.append(f"ChainIngest.utxo has {len(utxo)} boxes, ledger has "
                        f"{len(snap['utxo'])}; first difference "
                        f"{_first_diff(utxo, snap['utxo'])}")
    if sum(v for _, v in utxo) != sum(v for _, v in snap["utxo"]):
        problems.append("ChainIngest.utxo value sum differs from the ledger")
    return problems
