"""Physical-plan machinery: the bounded flat-input engine, the pure-SQL
and salted extraction plans."""
