"""Sources: synthetic sequence datagen and the raw-log fold."""
