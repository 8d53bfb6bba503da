"""Pure-Python Jaro–Winkler: the reference the Spark kernel
(``compare.jaro_winkler``) must equal bit for bit. Standard public
algorithm with DuckDB's ``jaro_winkler_similarity`` parameters."""


def jaro_similarity(s1: str, s2: str) -> float:
    """Jaro similarity, standard definition (public algorithm)."""
    len1, len2 = len(s1), len(s2)
    if len1 == 0 and len2 == 0:
        return 1.0
    if len1 == 0 or len2 == 0:
        return 0.0
    match_window = max(max(len1, len2) // 2 - 1, 0)
    s1_matched = [False] * len1
    s2_matched = [False] * len2
    matches = 0
    for i, c1 in enumerate(s1):
        lo = max(0, i - match_window)
        hi = min(len2, i + match_window + 1)
        for j in range(lo, hi):
            if not s2_matched[j] and s2[j] == c1:
                s1_matched[i] = True
                s2_matched[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    transpositions = 0
    j = 0
    for i in range(len1):
        if s1_matched[i]:
            while not s2_matched[j]:
                j += 1
            if s1[i] != s2[j]:
                transpositions += 1
            j += 1
    transpositions //= 2
    return (
        matches / len1 + matches / len2 + (matches - transpositions) / matches
    ) / 3.0


def jaro_winkler(
    s1: str, s2: str, prefix_weight: float = 0.1, boost_threshold: float = 0.7
) -> float:
    """Jaro–Winkler with the common 0.7 boost threshold and max prefix 4
    (matches DuckDB's ``jaro_winkler_similarity`` semantics)."""
    jaro = jaro_similarity(s1, s2)
    if jaro <= boost_threshold:
        return jaro
    prefix = 0
    for c1, c2 in zip(s1[:4], s2[:4]):
        if c1 != c2:
            break
        prefix += 1
    return jaro + prefix * prefix_weight * (1.0 - jaro)
