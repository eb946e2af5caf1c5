"""Engine operators: extraction UDFs, frontier ops, seen-set, politeness,
dedup, text analysis."""
