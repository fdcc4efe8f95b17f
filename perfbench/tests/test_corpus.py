from corpus import make_corpus


def test_corpus_is_a_function_of_the_seed():
    a, b, c = make_corpus(300, 5), make_corpus(300, 5), make_corpus(300, 6)
    assert a.texts == b.texts
    assert a.texts != c.texts


def test_corpus_labels_copies():
    c = make_corpus(1000, 1)
    assert len(c.exact_copies) == 50 and len(c.near_copies) == 50
    for copy, src in c.exact_copies.items():
        assert copy > src and c.texts[copy] == c.texts[src]
    for copy, src in c.near_copies.items():
        a, b = c.texts[copy].split(" "), c.texts[src].split(" ")
        assert copy > src and len(a) == len(b)
        assert 1 <= sum(x != y for x, y in zip(a, b)) <= 4
    assert all(50 <= len(t.split(" ")) <= 200 for t in c.texts)
