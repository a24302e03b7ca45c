"""Sources (SURVEY §2.1): raw-corpus standardization, entity-dictionary
files, word2vec binaries (the readers behind jobs/run_ingest.py), AIDA
CoNLL and JSONL corpora."""
