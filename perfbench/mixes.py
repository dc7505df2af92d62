"""Seeded query mixes, drawn from the calibrated pool in pool.json.

The fixture pool lists the always-run queries (`fixed`) and `pairs`: two
queries of the same registry module with similar cold and warm cost. Both
were picked from the per-query calibration in BASELINE.json
(`pool_calibration`, which states the rule; selftest.py checks the pool
against it). A mix takes every fixed query and one query of each pair, in
a seeded order, so every module appears, sink consumers are always
included, and mixes of different seeds cost about the same. The batch jobs
are a fixed list in a fixed order (each runs in its own fresh session, and
the first pays the JVM's warm-up, so a seeded order would move that cost
between jobs); their seed only makes the corpus.
"""
import json
import os
import random

HERE = os.path.dirname(os.path.abspath(__file__))


def load_pool():
    with open(os.path.join(HERE, "pool.json")) as f:
        return json.load(f)


def fixture_mix(seed, pool=None):
    pool = pool or load_pool()
    rng = random.Random("fixture:%d" % seed)
    mix = list(pool["fixed"]) + [rng.choice(pair) for pair in pool["pairs"]]
    rng.shuffle(mix)
    return mix


def client_orders(seed, mix, clients):
    """Each client's own seeded order of the mix."""
    orders = []
    for c in range(clients):
        order = list(mix)
        random.Random("client:%d:%d" % (seed, c)).shuffle(order)
        orders.append(order)
    return orders
