"""Step functions the fold_scan ops hand to the engine.

They live in a module of their own, importing nothing, because Spark's
Python workers import them by reference; the sequential references in
``workloads`` call the very same functions.
"""

from __future__ import annotations


def capped(acc, cap, amount):
    """The credit-card step: a purchase or refund that would take the
    balance above ``cap`` or below zero is rejected. Not associative."""
    candidate = acc + amount
    if candidate > cap or candidate < 0:
        return acc
    return candidate


def add(acc, x):
    return acc + x


def peak(acc, amount):
    return amount if amount > acc else acc
